package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Schema-discovery and JSON-payload operators (SURVEY §2.3 F3, §2.5 A4/A5):
  * the reference's dynamic field catalog and nested-response serving,
  * re-expressed over the `events` table's JSON `props` column.
  *
  * At scale these are scan-side projections (get_json_object /
  * from_json are codegen'd) followed by one aggregation shuffle on the
  * discovery key — the reference's O(history) per-ingest full rescans
  * (`field_discovery.py:21-28`) become a single incremental pass.
  */
object Discovery {

  // --- q_ds_json_pred -----------------------------------------------------
  // JSON-path predicate with cast (reference `discovery.py:73`:
  // `(raw_payload ->> 'siteId')::int = :site_id`).
  def jsonPred(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      // explicit null rejection first: the JSON-path predicate itself is
      // an expression (scan-side DataFilter, not pushable), but
      // IsNotNull(props) IS an attribute filter — it reaches the parquet
      // reader and skips all-null row groups via column stats
      // (plan-asserted in PlanSpec). Semantically a no-op: the >= 90
      // predicate already rejects null payloads.
      .filter(col("props").isNotNull &&
        get_json_object(col("props"), "$.k").cast("int") >= 90)
      .select(col("event_id"), col("user_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id")

  val jsonPredSql: String =
    """SELECT event_id, user_id, event_type,
      |  CAST(json_extract_string(props, '$.k') AS INT) AS k
      |FROM events
      |WHERE CAST(json_extract_string(props, '$.k') AS INT) >= 90
      |ORDER BY event_id""".stripMargin

  // --- q_ds_shredded --------------------------------------------------------
  // The F3 predicate over SHREDDED typed columns — the 100 TB analog of
  // the reference's JSONB+GIN index (`discovery.py:73`): q_ds_json_pred
  // and q_ds_variant must read and parse EVERY payload to answer a
  // one-field predicate, because a JSON-path expression is a DataFilter
  // the parquet reader cannot push. Staging the hot fields (here `k` —
  // the reference's `siteId`/`Data Item` equivalents) as typed columns
  // NEXT TO the retained payload turns the same predicate into an
  // attribute filter: it lands in PushedFilters (row-group stats
  // skipping), the payload column vanishes from ReadSchema, and cold
  // fields still have the full JSON beside them. Staged once per
  // dataset fingerprint — at scale this is the ingest tick writing the
  // shredded layout, every discovery query reading it. Output is
  // hash-equal to q_ds_json_pred (same oracle), and PlanSpec asserts
  // both plan properties.
  private[graft] def shreddedEvents(s: SparkSession, d: String): DataFrame = {
    val tag = Tables.stageTag(d)
    val root = s"${sys.props("java.io.tmpdir")}/graft_events_$tag/shredded"
    graft.Stage.ensure(root) { tmp =>
      Tables.events(s, d)
        .withColumn("k_typed",
          get_json_object(col("props"), "$.k").cast("int"))
        .write.parquet(tmp)
    }
    Tables.read(s, root)
  }

  def shredded(s: SparkSession, d: String): DataFrame =
    shreddedEvents(s, d)
      .filter(col("k_typed") >= 90)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("k_typed").as("k"))
      .orderBy("event_id")

  // --- q_ds_field_discovery -----------------------------------------------
  // The reference's schema-inference aggregate (`field_discovery.py:19-64`):
  // per (dataset, field): union of observed types, null count, row count,
  // deterministic example (min value). Dataset ≈ event_type here.
  def fieldDiscovery(s: SparkSession, d: String): DataFrame = {
    val kv = Tables.events(s, d)
      .select(col("event_type"),
        explode(from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType))).as(Seq("field_name", "v")))
    kv.withColumn("vtype",
        when(col("v").isNull, "null")
          .when(col("v").rlike("^-?[0-9]+$"), "integer")
          .when(col("v").rlike("^-?[0-9]+\\.[0-9]+$"), "float")
          .when(col("v").isin("true", "false"), "boolean")
          .otherwise("string"))
      .groupBy("event_type", "field_name")
      .agg(
        concat_ws(",", array_sort(collect_set(col("vtype")))).as("inferred_types"),
        count(when(col("v").isNull, 1)).as("n_null"),
        count(lit(1)).as("n_rows"),
        min(col("v")).as("example_value"))
      .orderBy("event_type", "field_name")
  }

  val fieldDiscoverySql: String =
    """WITH kv AS (
      |  SELECT event_type, k.key AS field_name,
      |    json_extract_string(props, '$.' || k.key) AS v
      |  FROM events, unnest(json_keys(props)) k(key)),
      |typed AS (
      |  SELECT event_type, field_name, v,
      |    CASE WHEN v IS NULL THEN 'null'
      |         WHEN regexp_matches(v, '^-?[0-9]+$') THEN 'integer'
      |         WHEN regexp_matches(v, '^-?[0-9]+\.[0-9]+$') THEN 'float'
      |         WHEN v IN ('true', 'false') THEN 'boolean'
      |         ELSE 'string' END AS vtype
      |  FROM kv)
      |SELECT event_type, field_name,
      |  array_to_string(list_sort(list_distinct(list(vtype))), ',') AS inferred_types,
      |  count(CASE WHEN v IS NULL THEN 1 END) AS n_null,
      |  count(*) AS n_rows,
      |  min(v) AS example_value
      |FROM typed
      |GROUP BY event_type, field_name
      |ORDER BY event_type, field_name""".stripMargin

  // --- q_ds_schema_drift ----------------------------------------------------
  // SCHEMA DRIFT between ingest batches — the alert a discovery
  // pipeline raises BEFORE a downstream cast breaks: re-run the A5
  // field inference on two deterministic batches (event_id parity —
  // the stand-in for yesterday/today) and diff per (event_type,
  // field): `added` / `removed` / `type_changed` / `stable`, plus the
  // null-rate movement that precedes most type breaks. ONE
  // aggregation, not a join of two discovery runs: the batch flag
  // rides the kv rows and each side's type set / counts are
  // conditional aggregates — the same single-pass trick as the
  // incremental-merge family, so the props scan happens once. Exact
  // integer counts; null rates are one int division each; the drift
  // flag fires on |Δ| > 0.05 or any non-stable status. Scale: one
  // map-side-combinable aggregation over the exploded kv stream —
  // field cardinality (the output) is schema-sized, not data-sized.
  def schemaDrift(s: SparkSession, d: String): DataFrame = {
    val kv = Tables.events(s, d)
      .select(col("event_type"), (col("event_id") % 2).as("b"),
        explode(from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType))).as(Seq("field_name", "v")))
      .withColumn("vtype",
        when(col("v").isNull, "null")
          .when(col("v").rlike("^-?[0-9]+$"), "integer")
          .when(col("v").rlike("^-?[0-9]+\\.[0-9]+$"), "float")
          .when(col("v").isin("true", "false"), "boolean")
          .otherwise("string"))
    kv.groupBy("event_type", "field_name")
      .agg(
        concat_ws(",", array_sort(collect_set(when(col("b") === 0, col("vtype")))))
          .as("types_a"),
        concat_ws(",", array_sort(collect_set(when(col("b") === 1, col("vtype")))))
          .as("types_b"),
        count(when(col("b") === 0, 1)).as("n_a"),
        count(when(col("b") === 1, 1)).as("n_b"),
        count(when(col("b") === 0 && col("v").isNull, 1)).as("null_a"),
        count(when(col("b") === 1 && col("v").isNull, 1)).as("null_b"))
      .withColumn("status",
        when(col("n_a") === 0, "added")
          .when(col("n_b") === 0, "removed")
          .when(col("types_a") =!= col("types_b"), "type_changed")
          .otherwise("stable"))
      .withColumn("null_rate_a",
        when(col("n_a") > 0,
          col("null_a").cast("double") / col("n_a").cast("double")))
      .withColumn("null_rate_b",
        when(col("n_b") > 0,
          col("null_b").cast("double") / col("n_b").cast("double")))
      .withColumn("drifted",
        when(col("status") =!= "stable" ||
          abs(coalesce(col("null_rate_b"), lit(0.0))
            - coalesce(col("null_rate_a"), lit(0.0))) > 0.05, 1L)
          .otherwise(0L))
      .select("event_type", "field_name", "status", "types_a", "types_b",
        "n_a", "n_b", "null_rate_a", "null_rate_b", "drifted")
      .orderBy("event_type", "field_name")
  }

  val schemaDriftSql: String =
    """WITH kv AS MATERIALIZED (
      |  SELECT event_type, event_id % 2 AS b, k.key AS field_name,
      |    json_extract_string(props, '$.' || k.key) AS v
      |  FROM events, unnest(json_keys(props)) k(key)),
      |typed AS MATERIALIZED (
      |  SELECT event_type, b, field_name, v,
      |    CASE WHEN v IS NULL THEN 'null'
      |         WHEN regexp_matches(v, '^-?[0-9]+$') THEN 'integer'
      |         WHEN regexp_matches(v, '^-?[0-9]+\.[0-9]+$') THEN 'float'
      |         WHEN v IN ('true', 'false') THEN 'boolean'
      |         ELSE 'string' END AS vtype
      |  FROM kv),
      |agg AS MATERIALIZED (
      |  SELECT event_type, field_name,
      |    array_to_string(list_sort(list_distinct(
      |      list(CASE WHEN b = 0 THEN vtype END))), ',') AS types_a,
      |    array_to_string(list_sort(list_distinct(
      |      list(CASE WHEN b = 1 THEN vtype END))), ',') AS types_b,
      |    CAST(count(CASE WHEN b = 0 THEN 1 END) AS BIGINT) AS n_a,
      |    CAST(count(CASE WHEN b = 1 THEN 1 END) AS BIGINT) AS n_b,
      |    CAST(count(CASE WHEN b = 0 AND v IS NULL THEN 1 END) AS BIGINT) AS null_a,
      |    CAST(count(CASE WHEN b = 1 AND v IS NULL THEN 1 END) AS BIGINT) AS null_b
      |  FROM typed GROUP BY event_type, field_name),
      |st AS MATERIALIZED (
      |  SELECT event_type, field_name,
      |    CASE WHEN n_a = 0 THEN 'added'
      |         WHEN n_b = 0 THEN 'removed'
      |         WHEN types_a <> types_b THEN 'type_changed'
      |         ELSE 'stable' END AS status,
      |    types_a, types_b, n_a, n_b,
      |    CASE WHEN n_a > 0 THEN CAST(null_a AS DOUBLE) / CAST(n_a AS DOUBLE) END AS null_rate_a,
      |    CASE WHEN n_b > 0 THEN CAST(null_b AS DOUBLE) / CAST(n_b AS DOUBLE) END AS null_rate_b
      |  FROM agg)
      |SELECT event_type, field_name, status, types_a, types_b, n_a, n_b,
      |  null_rate_a, null_rate_b,
      |  CAST(CASE WHEN status <> 'stable'
      |    OR abs(coalesce(null_rate_b, 0.0) - coalesce(null_rate_a, 0.0)) > 0.05
      |    THEN 1 ELSE 0 END AS BIGINT) AS drifted
      |FROM st ORDER BY event_type, field_name""".stripMargin

  // --- q_ds_group_collect -------------------------------------------------
  // The reference's nest-points-under-series serving shape
  // (`routes.py:40-61`): group, collect the time-ordered point list, and
  // project stable scalars out of it (head element + size) so the result
  // is hash-comparable while still exercising collect_list/sort_array.
  def groupCollect(s: SparkSession, d: String): DataFrame = {
    val pts = Tables.events(s, d)
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"), col("value"))))
        .as("points"))
    pts.select(
      col("user_id"),
      size(col("points")).as("n_points"),
      element_at(col("points"), 1).getField("ts").as("first_ts"),
      element_at(col("points"), 1).getField("value").as("first_value"),
      element_at(col("points"), -1).getField("ts").as("last_ts"))
      .orderBy("user_id")
  }

  val groupCollectSql: String =
    """WITH ranked AS (
      |  SELECT user_id, ts, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n_points,
      |    max(ts) OVER (PARTITION BY user_id) AS last_ts
      |  FROM events)
      |SELECT user_id, n_points, ts AS first_ts, value AS first_value, last_ts
      |FROM ranked WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  // --- q_ds_variant -------------------------------------------------------
  // Spark 4 VariantType over the JSON payload (SURVEY §1.3's JSONB
  // mapping): parse once into the binary Variant encoding, then typed
  // path extraction — the shredded-scan layout that replaces the
  // reference's JSONB+GIN at scale (no re-parse per predicate).
  def variantGet(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        parse_json(col("props")).as("v"))
      .select(col("event_id"), col("user_id"),
        variant_get(col("v"), "$.k", "int").as("k"))
      .filter(col("k") % 7 === 0)
      .orderBy("event_id")

  val variantGetSql: String =
    """SELECT event_id, user_id,
      |  CAST(json_extract_string(props, '$.k') AS INT) AS k
      |FROM events
      |WHERE CAST(json_extract_string(props, '$.k') AS INT) % 7 = 0
      |ORDER BY event_id""".stripMargin

  // --- q_ds_variant_schema --------------------------------------------------
  // Variant-NATIVE field discovery (SURVEY §2.10's schema_of_variant
  // mapping) — the typed twin of q_ds_field_discovery. Payloads with
  // deterministically varying shapes (extra string field / boolean /
  // array, branched on event_id so the typing is load-bearing) are parsed
  // ONCE into the binary Variant encoding; schema_of_variant types each
  // row in the scan stage and schema_of_variant_agg merges the observed
  // schemas per dataset — the reference's union-of-observed-types loop
  // (field_discovery.py:19-64) with the type walk pushed into codegen
  // instead of a Python dict traversal. Conflicting k types (BIGINT vs
  // ARRAY<BIGINT>) merge to VARIANT, Spark's documented top type. The
  // expected schema strings follow Spark's documented Variant typing for
  // the three constructed branches, so the oracle derives them with the
  // same branch CASE.
  def variantSchema(s: SparkSession, d: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k")
    val payload = when(col("event_id") % 3 === 0,
        concat(lit("{\"k\": "), k, lit(", \"tag\": \"t\"}")))
      .when(col("event_id") % 3 === 1,
        concat(lit("{\"flag\": true, \"k\": "), k, lit("}")))
      .otherwise(concat(lit("{\"k\": ["), k, lit(", "), k, lit("]}")))
    val typed = Tables.events(s, d)
      .select(col("event_type"), parse_json(payload).as("v"))
      .select(col("event_type"), schema_of_variant(col("v")).as("variant_schema"),
        col("v"))
    val perSchema = typed.groupBy("event_type", "variant_schema")
      .agg(count(lit(1)).as("n_rows"))
    val merged = typed.groupBy("event_type")
      .agg(schema_of_variant_agg(col("v")).as("merged_schema"))
    perSchema.join(merged, "event_type")
      .select("event_type", "variant_schema", "n_rows", "merged_schema")
      .orderBy("event_type", "variant_schema")
  }

  val variantSchemaSql: String =
    """SELECT event_type,
      |  CASE WHEN event_id % 3 = 0 THEN 'OBJECT<k: BIGINT, tag: STRING>'
      |       WHEN event_id % 3 = 1 THEN 'OBJECT<flag: BOOLEAN, k: BIGINT>'
      |       ELSE 'OBJECT<k: ARRAY<BIGINT>>' END AS variant_schema,
      |  count(*) AS n_rows,
      |  'OBJECT<flag: BOOLEAN, k: VARIANT, tag: STRING>' AS merged_schema
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY event_type, variant_schema""".stripMargin

  // --- q_ds_variant_unpivot -------------------------------------------------
  // The reference's record-iterate unpivot (`gie/transformer.py:17-62`:
  // `entry.items()` with the EXCLUDED_KEYS skip) as the Variant GENERATOR
  // path — SURVEY §2.10's "variant → (key, value) rows". The wide record
  // is built once, parsed to binary Variant, LATERAL `variant_explode`d
  // to rows, and the identity key is dropped exactly like EXCLUDED_KEYS.
  // Spark 4 ships the generator natively (VariantExplode), so the one
  // Catalyst extension SURVEY §7.3 kept in reserve turns out to be a
  // built-in: the plan is scan → project → Generate, zero shuffles
  // before the presentation sort, and the Generate sits inside the scan
  // stage at any corpus size.
  def variantUnpivot(s: SparkSession, d: String): DataFrame = {
    val view = s"graft_variant_unpivot_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    Tables.events(s, d)
      .select(col("event_id"),
        // ignoreNullFields=false: to_json otherwise DROPS null struct
        // fields while the oracle's json_object keeps the key with NULL —
        // a props payload whose $.k isn't int-castable would silently
        // diverge (row missing vs row-with-NULL). Emitting nulls
        // symmetrically makes the parity hold by construction instead of
        // by corpus invariant.
        parse_json(to_json(struct(
          col("user_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"),
          col("event_type")), Map("ignoreNullFields" -> "false"))).as("v"))
      .createOrReplaceTempView(view)
    val df = s.sql(
      s"""SELECT event_id, ve.key AS field_name,
         |  CAST(ve.value AS STRING) AS field_value
         |FROM $view, LATERAL variant_explode(v) AS ve
         |WHERE ve.key <> 'event_type'
         |ORDER BY event_id, field_name""".stripMargin)
    // sql() resolves the view eagerly into df's analyzed plan — drop it
    // so repeat calls don't accrete catalog entries for the session life
    s.catalog.dropTempView(view)
    df
  }

  val variantUnpivotSql: String =
    """WITH payload AS (
      |  SELECT event_id,
      |    json_object('user_id', user_id,
      |                'k', CAST(json_extract_string(props, '$.k') AS INT),
      |                'event_type', event_type) AS p
      |  FROM events),
      |kv AS (
      |  SELECT event_id, k.key AS field_name,
      |    json_extract_string(p, '$.' || k.key) AS field_value
      |  FROM payload, unnest(json_keys(p)) k(key))
      |SELECT event_id, field_name, field_value
      |FROM kv WHERE field_name <> 'event_type'
      |ORDER BY event_id, field_name""".stripMargin

  // --- q_ds_profile -------------------------------------------------------
  // Per-column data-quality profile of the orders table — null counts
  // and exact distinct cardinalities, the audit table every ingest run
  // emits. ONE scan computes every column's statistics as parallel
  // aggregates; the wide single row is then unpivoted to the long audit
  // shape driver-side-free via stack(). Exact distincts shuffle each
  // column's values once; at 100 TB swap approx_count_distinct sketches
  // per column (same plan shape, one scan).
  private val profileCols = Seq(
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")

  def profile(s: SparkSession, d: String): DataFrame = {
    val aggs = profileCols.flatMap(c => Seq(
      sum(col(c).isNull.cast("long")).as(s"${c}__nulls"),
      countDistinct(col(c)).as(s"${c}__distinct")))
    val stackExpr = profileCols
      .map(c => s"'$c', ${c}__nulls, ${c}__distinct")
      .mkString(s"stack(${profileCols.length}, ", ", ", ")")
    Tables.orders(s, d)
      .agg(aggs.head, aggs.tail: _*)
      .select(expr(s"$stackExpr AS (column_name, n_nulls, n_distinct)"))
      .orderBy("column_name")
  }

  val profileSql: String =
    profileCols.map(c =>
      s"""SELECT '$c' AS column_name,
         |  (count(*) - count($c))::BIGINT AS n_nulls,
         |  count(DISTINCT $c)::BIGINT AS n_distinct FROM orders""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")

  // --- q_ds_dq_audit ----------------------------------------------------
  // Data-quality audit — the gate every warehouse runs between landing
  // and publishing: null-rate, range-violation and referential-
  // integrity counts in ONE pass plus one anti-join. The synthetic
  // corpus is pristine (every check would read 0 and the oracle would
  // pin nothing), so the input is deterministically dirtied first —
  // the q_f5_normalized_match precedent: NULL values on the %11 slice,
  // sign flips on %13, orphaned user ids on %17 — making each counter
  // load-bearing. Scale shape: the null/range checks are ONE aggregate
  // over the scan (no shuffle beyond the 1-row combine); the orphan
  // check is a left-anti probe against the distinct user dim (broadcast
  // at dim scale); the long-form output is a 3-row stack of the 1-row
  // summary. At 100 TB this is the cheap pre-publish pass whose
  // counters page someone before a bad batch goes live.
  // --- q_ds_freshness -----------------------------------------------------------
  // DATA FRESHNESS per stream — the first page of every pipeline ops
  // dashboard: when did each event type last land, how far does it lag
  // the freshest stream, and is it stale (> 24 h behind)? A stream
  // silently stopping is the most common production failure and the
  // one a correctness gate can't see (all the data that DID land is
  // fine). Lag is exact integer arithmetic on epoch MICROS (second-
  // grain truncation loses the fractional part differently per engine
  // — unix_timestamp truncates each operand, epoch() keeps fractions;
  // BIGINT micros subtract+div identically); the corpus watermark is
  // a 1-row digest crossed back. Scale: one min/max aggregation — scan-shaped.
  def freshness(s: SparkSession, d: String): DataFrame = {
    val m = Tables.events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        min(col("ts")).as("first_seen"), max(col("ts")).as("last_seen"))
    val wm = m.agg(max(col("last_seen")).as("watermark"))
    m.crossJoin(broadcast(wm))
      .select(col("event_type"), col("n_rows"),
        col("first_seen"), col("last_seen"),
        expr("(unix_micros(watermark) - unix_micros(last_seen)) DIV 3600000000")
          .as("lag_hours"))
      .withColumn("stale", (col("lag_hours") > 24L).cast("boolean"))
      .orderBy("event_type")
  }

  val freshnessSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
      |    min(ts) AS first_seen, max(ts) AS last_seen
      |  FROM events GROUP BY 1),
      |wm AS MATERIALIZED (SELECT max(last_seen) AS watermark FROM m)
      |SELECT event_type, n_rows, first_seen, last_seen,
      |  CAST((epoch_us(wm.watermark) - epoch_us(m.last_seen)) // 3600000000
      |    AS BIGINT) AS lag_hours,
      |  (CAST((epoch_us(wm.watermark) - epoch_us(m.last_seen)) // 3600000000
      |    AS BIGINT) > 24) AS stale
      |FROM m, wm
      |ORDER BY event_type""".stripMargin

  def dqAudit(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"), col("value"))
    val dirty = ev.select(
      col("event_id"),
      when(col("event_id") % 17 === 0, col("user_id") + 1000000L)
        .otherwise(col("user_id")).as("user_id"),
      when(col("event_id") % 11 === 0, lit(null).cast("double"))
        .when(col("event_id") % 13 === 0, -col("value"))
        .otherwise(col("value")).as("value"))
    val users = ev.select("user_id").distinct()
    val scanChecks = dirty.agg(
      count(lit(1)).as("n_total"),
      (count(lit(1)) - count(col("value"))).as("null_value"),
      count(when(col("value") < 0, 1)).as("neg_value"))
    val orphans = dirty.join(users, Seq("user_id"), "left_anti")
      .agg(count(lit(1)).as("orphan_user"))
    scanChecks.crossJoin(orphans) // two 1-row summaries
      .selectExpr(
        "stack(3, 'null_value', null_value, 'neg_value', neg_value, " +
          "'orphan_user', orphan_user) AS (check, n_bad)",
        "n_total")
      .orderBy("check")
  }

  val dqAuditSql: String =
    """WITH dirty AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 17 = 0 THEN user_id + 1000000 ELSE user_id END AS user_id,
      |    CASE WHEN event_id % 11 = 0 THEN NULL
      |         WHEN event_id % 13 = 0 THEN -value ELSE value END AS value
      |  FROM events),
      |users AS (SELECT DISTINCT user_id FROM events),
      |scanc AS (
      |  SELECT count(*) AS n_total,
      |    count(*) - count(value) AS null_value,
      |    count(*) FILTER (value < 0) AS neg_value
      |  FROM dirty),
      |orph AS (
      |  SELECT count(*) AS orphan_user FROM dirty
      |  WHERE user_id NOT IN (SELECT user_id FROM users))
      |SELECT "check", n_bad, n_total FROM (
      |  SELECT 'null_value' AS "check", null_value AS n_bad, n_total FROM scanc
      |  UNION ALL SELECT 'neg_value', neg_value, n_total FROM scanc
      |  UNION ALL SELECT 'orphan_user', o.orphan_user, s.n_total FROM orph o, scanc s)
      |ORDER BY "check"""".stripMargin

  // --- q_ds_observe ---------------------------------------------------------
  // In-flight pipeline metrics via Dataset.observe: the audit counters a
  // production export job needs (row count, exact value mass, null rate)
  // collected DURING the write action itself — a CollectMetrics node on
  // the pipeline's own plan, accumulator-backed, so there is NO second
  // scan of the fact. The row runs a filtered export to parquet with an
  // Observation attached, then returns the observed metrics as the
  // result; the oracle recomputes the same aggregates relationally. A
  // mismatch means the observe path (not the export) lost or double-
  // counted rows — exactly the failure a 100 TB pipeline needs surfaced,
  // where "scan it again to check" costs as much as the job. The value
  // mass accumulates in integer cents (exact), divided once at the end.
  def observeAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val obs = org.apache.spark.sql.Observation()
    val out = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"), col("props"))
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(round(col("value") * 100).cast("long")).as("cents"),
        count(when(col("props").isNull, 1)).as("null_props"))
    // The write is a sink that forces the action (Observation needs
    // one); the data is never read back. A per-call unique dir keeps
    // concurrent sessions from racing on one overwrite target, and is
    // deleted as soon as the metrics are in.
    val sink = s"${sys.props("java.io.tmpdir")}/graft_observe_" +
      java.util.UUID.randomUUID.toString.take(8)
    out.write.parquet(sink)
    val m = obs.get
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(sink))
    // SUM over zero rows is SQL NULL; a bare asInstanceOf[Long] would
    // unbox that null to 0 while the oracle's SUM stays NULL — Option
    // keeps the degenerate empty-slice case defined identically in both
    // engines (counts are never null)
    Seq((m("n_rows").asInstanceOf[Long],
      Option(m("cents")).map(_.asInstanceOf[Long].toDouble / 100.0),
      m("null_props").asInstanceOf[Long]))
      .toDF("n_rows", "sum_value", "null_props")
  }

  val observeAuditSql: String =
    """SELECT count(*) AS n_rows,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value,
      |  count(*) FILTER (props IS NULL) AS null_props
      |FROM events
      |WHERE event_type = 'purchase'""".stripMargin

  // --- q_ds_sample_preview --------------------------------------------------
  // The reference's capped discovery sample (`discovery.py:42`: N-row
  // preview per dataset, cap 50) as a BOUNDED aggregate: the earliest 3
  // events per dataset via `top_k_by` over the negated (ts, id) struct —
  // largest-of-negated ≡ earliest, the id making ties deterministic.
  // The naive preview ORDER BY ts LIMIT N per dataset sorts each
  // dataset's full history; the heap keeps 3 rows per group with
  // map-side combine, so a preview of a 100 TB dataset costs one scan
  // and a digest-size shuffle. Epoch micros negate losslessly
  // (timestamp_micros round-trips), so the oracle — the window
  // formulation — matches bit-for-bit.
  def samplePreview(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(graft.functions.TopKByFunctions.topKBy(
        struct((-unix_micros(col("ts"))).as("nts"),
          (-col("event_id")).as("nid")), 3).as("top"))
      .select(col("event_type"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("event_type"), (col("i") + 1).as("rnk"),
        timestamp_micros(-col("t.nts")).as("ts"),
        (-col("t.nid")).cast("long").as("event_id"))
      .orderBy("event_type", "rnk")

  val samplePreviewSql: String =
    """SELECT event_type, CAST(rnk AS INT) AS rnk, ts, event_id
      |FROM (
      |  SELECT event_type, ts, event_id,
      |    row_number() OVER (
      |      PARTITION BY event_type ORDER BY ts, event_id) AS rnk
      |  FROM events)
      |WHERE rnk <= 3
      |ORDER BY event_type, rnk""".stripMargin

  // --- q_ds_skew_audit --------------------------------------------------------
  // JOIN-KEY SKEW PROFILE — the pre-flight audit a 100 TB planner runs
  // before choosing between plain, salted, and skew-hinted joins: for
  // each candidate join key, the key cardinality, the heaviest key and
  // its share, and the max/mean skew ratio. One map-side-combinable
  // count per key column to the key digest, then a second aggregation
  // to a 1-row-per-column summary — the heavy key rides a struct max
  // (count, key), deterministic under ties. The audited columns are
  // the engine's own join keys (orders.o_custkey, lineitem.l_partkey,
  // events.user_id), so the output is exactly the table q_j12's
  // salting and AQE-skew thresholds would be tuned from.
  def skewAudit(s: SparkSession, d: String): DataFrame = {
    def audit(df: DataFrame, table: String, key: String): DataFrame =
      df.groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
        .groupBy()
        .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
          max(struct(col("c"), col("k"))).as("top"))
        .select(lit(s"$table.$key").as("join_key"),
          col("n_keys"), col("n_rows"),
          col("top.k").as("heaviest_key"), col("top.c").as("heaviest_n"),
          (col("top.c").cast("double") / col("n_rows").cast("double"))
            .as("heaviest_share"),
          (col("top.c").cast("double") /
            (col("n_rows").cast("double") / col("n_keys").cast("double")))
            .as("skew_ratio"))
    audit(Tables.orders(s, d), "orders", "o_custkey")
      .unionByName(audit(Tables.lineitem(s, d), "lineitem", "l_partkey"))
      .unionByName(audit(Tables.events(s, d), "events", "user_id"))
      .orderBy("join_key")
  }

  val skewAuditSql: String = {
    def one(table: String, key: String): String =
      s"""SELECT '$table.$key' AS join_key,
         |  CAST(count(*) AS BIGINT) AS n_keys,
         |  CAST(sum(c) AS BIGINT) AS n_rows,
         |  max({'c': c, 'k': k}).k AS heaviest_key,
         |  max({'c': c, 'k': k}).c AS heaviest_n,
         |  max({'c': c, 'k': k}).c::DOUBLE / CAST(sum(c) AS BIGINT)::DOUBLE
         |    AS heaviest_share,
         |  max({'c': c, 'k': k}).c::DOUBLE /
         |    (CAST(sum(c) AS BIGINT)::DOUBLE / count(*)::DOUBLE)
         |    AS skew_ratio
         |FROM (SELECT $key AS k, CAST(count(*) AS BIGINT) AS c
         |      FROM $table GROUP BY 1)""".stripMargin
    s"""${one("orders", "o_custkey")}
       |UNION ALL
       |${one("lineitem", "l_partkey")}
       |UNION ALL
       |${one("events", "user_id")}
       |ORDER BY join_key""".stripMargin
  }

  // --- q_ds_kanon -------------------------------------------------------------
  // K-ANONYMITY AUDIT over quasi-identifiers — the privacy pre-release
  // screen: how many documents sit in a (lang, source, length-bucket)
  // equivalence class smaller than k = 5, i.e. are re-identifiable by
  // attributes that individually look harmless? One doc-grain
  // aggregation to the QI-class digest, then a 1-row summary: class
  // count, the smallest class (k_min — the corpus's actual anonymity
  // level), risky class/doc counts, and the risky fraction. Exact
  // integers with one final division. Scale: the QI digest is bounded
  // by the attribute cross-product, not corpus rows.
  private val KAnonThreshold = 5L

  def kanon(s: SparkSession, d: String): DataFrame = {
    val classes = Tables.documents(s, d)
      .groupBy(col("lang"), col("source"),
        floor(col("n_chars") / 50).cast("long").as("len_bucket"))
      .agg(count(lit(1)).as("c"))
    classes.groupBy()
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_classes"),
        min(col("c")).as("k_min"),
        sum(when(col("c") < KAnonThreshold, 1L).otherwise(0L))
          .as("n_risky_classes"),
        sum(when(col("c") < KAnonThreshold, col("c")).otherwise(0L))
          .as("n_risky_docs"))
      .select(col("n_docs"), col("n_classes"), col("k_min"),
        lit(KAnonThreshold).as("k_threshold"),
        col("n_risky_classes"), col("n_risky_docs"),
        (col("n_risky_docs").cast("double") / col("n_docs").cast("double"))
          .as("risky_frac"))
  }

  val kanonSql: String =
    s"""WITH classes AS MATERIALIZED (
       |  SELECT lang, source, n_chars // 50 AS len_bucket,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM documents GROUP BY 1, 2, 3)
       |SELECT CAST(sum(c) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_classes,
       |  CAST(min(c) AS BIGINT) AS k_min,
       |  CAST($KAnonThreshold AS BIGINT) AS k_threshold,
       |  CAST(sum(CASE WHEN c < $KAnonThreshold THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_risky_classes,
       |  CAST(sum(CASE WHEN c < $KAnonThreshold THEN c ELSE 0 END) AS BIGINT)
       |    AS n_risky_docs,
       |  CAST(sum(CASE WHEN c < $KAnonThreshold THEN c ELSE 0 END) AS BIGINT)
       |    ::DOUBLE / CAST(sum(c) AS BIGINT)::DOUBLE AS risky_frac
       |FROM classes""".stripMargin

  // --- q_ds_ldiv --------------------------------------------------------------
  // L-DIVERSITY AUDIT — k-anonymity's necessary companion: a large
  // equivalence class is still a leak if every member shares the same
  // SENSITIVE value (here: language as the stand-in sensitive
  // attribute, classes keyed by the non-sensitive (source,
  // length-bucket) pair). Per class, l = distinct sensitive values;
  // the summary reports l_min (the corpus's actual diversity level)
  // and how many classes/docs sit below l = 3. Exact integers, digest
  // grain throughout (classes bounded by the attribute cross-product).
  private val LDivThreshold = 3L

  def ldiv(s: SparkSession, d: String): DataFrame = {
    val classes = Tables.documents(s, d)
      .groupBy(col("source"),
        floor(col("n_chars") / 50).cast("long").as("len_bucket"))
      .agg(count(lit(1)).as("c"), countDistinct(col("lang")).as("l"))
    classes.groupBy()
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_classes"),
        min(col("l")).as("l_min"),
        sum(when(col("l") < LDivThreshold, 1L).otherwise(0L))
          .as("n_risky_classes"),
        sum(when(col("l") < LDivThreshold, col("c")).otherwise(0L))
          .as("n_risky_docs"))
      .select(col("n_docs"), col("n_classes"), col("l_min"),
        lit(LDivThreshold).as("l_threshold"),
        col("n_risky_classes"), col("n_risky_docs"),
        (col("n_risky_docs").cast("double") / col("n_docs").cast("double"))
          .as("risky_frac"))
  }

  val ldivSql: String =
    s"""WITH classes AS MATERIALIZED (
       |  SELECT source, n_chars // 50 AS len_bucket,
       |    CAST(count(*) AS BIGINT) AS c,
       |    CAST(count(DISTINCT lang) AS BIGINT) AS l
       |  FROM documents GROUP BY 1, 2)
       |SELECT CAST(sum(c) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_classes,
       |  CAST(min(l) AS BIGINT) AS l_min,
       |  CAST($LDivThreshold AS BIGINT) AS l_threshold,
       |  CAST(sum(CASE WHEN l < $LDivThreshold THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_risky_classes,
       |  CAST(sum(CASE WHEN l < $LDivThreshold THEN c ELSE 0 END) AS BIGINT)
       |    AS n_risky_docs,
       |  CAST(sum(CASE WHEN l < $LDivThreshold THEN c ELSE 0 END) AS BIGINT)
       |    ::DOUBLE / CAST(sum(c) AS BIGINT)::DOUBLE AS risky_frac
       |FROM classes""".stripMargin

  // --- q_ds_tcloseness ---------------------------------------------------------
  // T-CLOSENESS AUDIT — the third leg of the privacy triad: a class can
  // be k-anonymous AND l-diverse yet still leak when its sensitive-value
  // DISTRIBUTION diverges from the corpus (e.g. a class that is 90% one
  // language in a 20%-prior corpus). t(class) is the distance between
  // the class's sensitive distribution and the global one — for a
  // categorical attribute the EMD under uniform ground distance is the
  // total-variation distance (1/2)·Σ|p − q|. Arithmetic is EXACT: put
  // both distributions over the common denominator n_class·N, so each
  // term is |c_cl·N − c_g·n_class| (a DECIMAL(38,0) product — corpus
  // grain would overflow a long), sum the integer numerators per class,
  // divide ONCE at the end. Zero-count (class, lang) cells are
  // materialized from the classes × langs digest grid (a missing lang
  // still contributes its full global mass). Scale: everything after
  // the one doc-grain aggregation is digest grain (classes ×
  // languages); the global marginal broadcasts.
  private val TCloseThreshold = 0.25

  def tcloseness(s: SparkSession, d: String): DataFrame = {
    val cl = Tables.documents(s, d)
      .groupBy(col("source"),
        floor(col("n_chars") / 50).cast("long").as("len_bucket"), col("lang"))
      .agg(count(lit(1)).as("c_cl"))
      .localCheckpoint() // feeds the grid, the class sizes, and the marginal
    val classes = cl.groupBy("source", "len_bucket")
      .agg(sum(col("c_cl")).cast("long").as("n_class"))
    val global = cl.groupBy("lang").agg(sum(col("c_cl")).cast("long").as("c_g"))
    val total = global.agg(sum(col("c_g")).cast("long").as("n_total"))
    // cast BEFORE the multiply (matching the oracle): a long×long
    // product overflows under ANSI exactly at the corpus grain the
    // decimal is here for
    val num = col("c_cl").cast("decimal(38,0)") * col("n_total") -
      col("c_g").cast("decimal(38,0)") * col("n_class")
    classes.crossJoin(broadcast(global))
      .join(cl, Seq("source", "len_bucket", "lang"), "left")
      .na.fill(0L, Seq("c_cl"))
      .crossJoin(broadcast(total))
      .groupBy(col("source"), col("len_bucket"), col("n_class"), col("n_total"))
      .agg(sum(abs(num)).as("t_num"))
      .select(col("source"), col("len_bucket"), col("n_class"),
        col("t_num").cast("long").as("t_num"),
        (col("t_num").cast("double") /
          (lit(2.0) * col("n_class").cast("double") * col("n_total").cast("double")))
          .as("t"),
        (col("t_num").cast("double") >
          lit(2.0 * TCloseThreshold) * col("n_class").cast("double") *
            col("n_total").cast("double")).as("risky"))
      .orderBy("source", "len_bucket")
  }

  val tclosenessSql: String =
    s"""WITH cl AS MATERIALIZED (
       |  SELECT source, n_chars // 50 AS len_bucket, lang,
       |    CAST(count(*) AS BIGINT) AS c_cl
       |  FROM documents GROUP BY 1, 2, 3),
       |classes AS MATERIALIZED (
       |  SELECT source, len_bucket, CAST(sum(c_cl) AS BIGINT) AS n_class
       |  FROM cl GROUP BY 1, 2),
       |global AS MATERIALIZED (
       |  SELECT lang, CAST(sum(c_cl) AS BIGINT) AS c_g FROM cl GROUP BY 1),
       |total AS MATERIALIZED (
       |  SELECT CAST(sum(c_g) AS BIGINT) AS n_total FROM global),
       |grid AS MATERIALIZED (
       |  SELECT k.source, k.len_bucket, k.n_class, g.lang, g.c_g,
       |    COALESCE(cl.c_cl, 0) AS c_cl, t.n_total
       |  FROM classes k CROSS JOIN global g CROSS JOIN total t
       |  LEFT JOIN cl ON cl.source = k.source
       |    AND cl.len_bucket = k.len_bucket AND cl.lang = g.lang)
       |SELECT source, len_bucket, n_class,
       |  CAST(sum(abs(CAST(c_cl AS DECIMAL(38,0)) * n_total
       |    - CAST(c_g AS DECIMAL(38,0)) * n_class)) AS BIGINT) AS t_num,
       |  CAST(sum(abs(CAST(c_cl AS DECIMAL(38,0)) * n_total
       |    - CAST(c_g AS DECIMAL(38,0)) * n_class)) AS BIGINT)::DOUBLE
       |    / (2.0 * n_class::DOUBLE * CAST(max(n_total) AS BIGINT)::DOUBLE)
       |    AS t,
       |  CAST(sum(abs(CAST(c_cl AS DECIMAL(38,0)) * n_total
       |    - CAST(c_g AS DECIMAL(38,0)) * n_class)) AS BIGINT)::DOUBLE
       |    > 2.0 * $TCloseThreshold * n_class::DOUBLE
       |      * CAST(max(n_total) AS BIGINT)::DOUBLE AS risky
       |FROM grid
       |GROUP BY source, len_bucket, n_class
       |ORDER BY source, len_bucket""".stripMargin

  // --- q_ds_cap_registry ------------------------------------------------
  // THE 100-TB QUESTION MADE EXECUTABLE: one observability row per
  // bounded-state cap / require-guarded driver artifact in the engine,
  // each with its LIVE value at this scale factor, the guard limit, the
  // integer headroom (limit*100 div current — >100 means under the cap,
  // <100 means the bound is actively engaged), and the NAMED fallback.
  // A scale-up now has one query that says which guard trips first.
  //
  // `kind` is the guard's failure mode:
  //   fail   — require() throws loudly, message names the distributed
  //            alternative (driver artifacts: markov K² matrix, dyadic
  //            digest, PCA gram);
  //   switch — the engine degrades automatically above the limit
  //            (graph node-state broadcast → keyed-shuffle rounds);
  //   bound  — state is capped in-plan and the overflow is dropped,
  //            MEASURED (q_dd_cap_audit) and, for the band paths,
  //            RESCUED (q_dd_minhash_rescue / q_dd_simhash_rescue);
  //   skew   — the guard is a BALANCE design point (streaming shard
  //            layout): exceeding it degrades parallelism, never
  //            correctness, and the fallback names the re-shard lever.
  //
  // Live values come from the SAME derivations the operators run — the
  // dedup family reuses [[Dedup.capAudit]]'s bucket histograms verbatim
  // (the audit cannot drift from the audited code), consumed through
  // [[Dedup.capAuditRows]] (the driver-memoized audit RESULT, derived
  // once per staged substrate) so this query's steady-state cost is the
  // four tiny aggregates, not a second full banding pass. Guards NOT
  // here, and why:
  //   - iterative-round convergence guards (CcMaxRounds, SccMaxRounds,
  //     labelprop ≤64 rounds, LSS round cap) — their live value is a
  //     runtime iteration count whose DuckDB replay is the superlinear
  //     recursive-CTE path this repo deliberately avoids at sf0.1.
  //     GraphSpec fires the connected cap directly (53-node path >
  //     CcMaxRounds); the LSS cap is unfireable by construction
  //     (large-star/small-star halves component height per round —
  //     64 rounds covers ~2^64 nodes);
  //   - structural consistency requires (GramTri buffer shape, triangle
  //     node-id < 2^31 packing) — input-domain contracts, spec-fired
  //     (PropertySpec), with no meaningful "headroom" dimension;
  //   - PcaDims ≤ PcaMaxDims is compile-time-constant vs constant; the
  //     live dimension ships here (cap_pca_gram_dims) so a wider
  //     embedding column is visible before anyone edits PcaDims.
  // (max per-shard distinct signatures, total distinct signatures) per
  // staged substrate — derived once (full minhash pass over documents),
  // replayed as literals after; the Similarity.eigenCache discipline.
  private val ndShardCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private val capMeta: Seq[(String, String, String, String, Long, String)] = Seq(
    ("ngram_shingle", "cap_dedup_shingle_df", "dedup", "bound",
      Dedup.MaxShingleDf.toLong,
      "hot shingles excluded set-wide; loss measured by q_dd_cap_audit"),
    ("minhash_band", "cap_dedup_minhash_band", "dedup", "bound",
      Dedup.MaxShingleDf.toLong,
      "two-level wide-band rescue recovers dropped pairs (q_dd_minhash_rescue)"),
    ("minhash_wide", "cap_dedup_minhash_wide", "dedup", "bound",
      Dedup.MaxShingleDf.toLong,
      "residual hot wide-bands are identical-signature clusters (cluster-keeper territory)"),
    ("simhash_band", "cap_dedup_simhash_band", "dedup", "bound",
      Dedup.MaxShingleDf.toLong,
      "two-level wide-band rescue recovers dropped pairs (q_dd_simhash_rescue)"),
    ("simhash_wide", "cap_dedup_simhash_wide", "dedup", "bound",
      Dedup.MaxShingleDf.toLong,
      "residual hot wide-bands are identical-signature clusters (cluster-keeper territory)"),
    ("embed_band", "cap_dedup_embed_band", "dedup", "bound",
      Dedup.MaxEmbedBucket.toLong,
      "multi-index probing spreads candidates; loss measured by q_dd_cap_audit"),
    ("sem_cluster", "cap_dedup_sem_cluster", "dedup", "bound",
      Dedup.MaxSemCluster.toLong,
      "mega-clusters generate no pairs (all kept); production adds a second k-means split level"))

  def capRegistry(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    def row(current: DataFrame, name: String, family: String, kind: String,
            limit: Long, fallback: String): DataFrame =
      current.toDF("current_value")
        .select(lit(name).as("cap_name"), lit(family).as("family"),
          lit(kind).as("kind"), lit(limit).as("guard_limit"),
          col("current_value").cast("long").as("current_value"),
          lit(fallback).as("fallback"))

    val dedupRows = Dedup.capAuditRows(s, d)
      .select(col("path"), col("max_bucket").as("current_value"))
      .join(broadcast(capMeta
        .toDF("path", "cap_name", "family", "kind", "guard_limit", "fallback")),
        Seq("path"))
      .select("cap_name", "family", "kind", "guard_limit", "current_value",
        "fallback")

    // streaming near-dup shard state: the 64-way signature-space shard
    // (MicroBatch.NearDupShards) is the grouping key the map-state
    // dedup operator scales on, so its guard is a BALANCE design point,
    // not a correctness cap. Live value = the max per-shard DISTINCT
    // signature count over the documents tick — exactly the per-shard
    // map population a fresh single-batch drain admits (NearDupStats'
    // shardAdmits; StreamingSpec pins the accumulators to this identity
    // on a planted-skew stream), derived batch-side so the row stays a
    // deterministic oracle query instead of a checkpoint-dependent
    // drain. Shard key replays Java's String.hashCode (the exact
    // neardupV2 key) as a 32-bit-wrapped fold — ASCII signatures, so
    // UTF-16 chars == bytes in both engines. Limit = 2x the uniform
    // share: past it one executor owns a double share of the dedup
    // index and the scale-out flattens.
    val (ndMax, ndTot) = ndShardCache.computeIfAbsent(Tables.stageTag(d), _ => {
      val sigs = Tables.documents(s, d)
        .select(Dedup.minhashSigCol(col("text")).as("sig"))
        .filter(col("sig").isNotNull).distinct()
        .withColumn("chars", split(col("sig"), ""))
      val jhash = aggregate(
        sequence(lit(1), size(col("chars"))), lit(0L),
        (acc, i) => pmod(acc * lit(31L) +
          ascii(element_at(col("chars"), i.cast("int"))).cast("long") +
          lit(2147483648L), lit(4294967296L)) - lit(2147483648L))
      val r = sigs.select(pmod(jhash, lit(64L)).as("shard"))
        .groupBy("shard").agg(count(lit(1)).as("n"))
        .agg(max(col("n")), sum(col("n"))).head()
      (r.getLong(0), r.getLong(1))
    })
    val sigShard = s.range(1)
      .select(lit("cap_streaming_neardup_shard").as("cap_name"),
        lit("streaming").as("family"), lit("skew").as("kind"),
        lit(2L * math.ceil(ndTot.toDouble / 64.0).toLong).as("guard_limit"),
        lit(ndMax).as("current_value"),
        lit("raise MicroBatch.NearDupShards (layout, not semantics: signatures re-hash) or salt the shard key")
          .as("fallback"))

    val ev = Tables.events(s, d)
    // markov driver-matrix cap: the states the K² digest would span —
    // the same (f, next) window derivation markovStationaryOf guards on
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val markovStates = ev
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .select(explode(array(col("event_type"), col("next_type"))).as("st"))
      .agg(countDistinct(col("st")))
    // dyadic digest: structurally ≤ 8,190 rows at DyadBits=20 (the
    // require exists for a future resolution change, not this corpus)
    val dyadRows = Analytics.dyadicTree(ev).agg(count(lit(1)))
    val pcaDims = Tables.embeddings(s, d).agg(max(size(col("embedding"))))
    val und = Graph.coEdges(s, d)
    val graphNodes = und
      .select(explode(array(col("a"), col("b"))).as("n"))
      .agg(countDistinct(col("n")))
    // serving/export edge collects are bounded BY CONSTRUCTION (limit
    // before collect); the live value is the default page at this SF
    val exportPage = ev.agg(
      least(lit(graft.sources.Exports.DefaultPageRows.toLong), count(lit(1))))

    dedupRows
      .unionByName(row(markovStates, "cap_markov_states", "analytics", "fail",
        Analytics.MarkovMaxStates.toLong,
        "distributed power iteration: (f,t,p) cells JOIN pi_prev per round (Graph.pageRank shape)"))
      .unionByName(row(dyadRows, "cap_dyadic_digest_rows", "analytics", "fail",
        Analytics.DyadMaxRows.toLong,
        "raise DyadMinLevel (coarser tree) or aggregate per-group trees distributed"))
      .unionByName(row(pcaDims, "cap_pca_gram_dims", "similarity", "fail",
        Similarity.PcaMaxDims.toLong,
        "block the gram into per-tile aggregates or switch to distributed randomized SVD"))
      .unionByName(row(graphNodes, "cap_graph_broadcast_nodes", "graph", "switch",
        graft.queries.Graph.BroadcastNodeStateMax,
        "keyed-shuffle rounds engage automatically above the limit (q_gr_connected_lss engine)"))
      .unionByName(row(exportPage, "cap_export_page_rows", "serving", "bound",
        graft.sources.Exports.MaxExportRows.toLong,
        "uncapped exports ship a partitioned directory, never a driver collect"))
      .unionByName(sigShard)
      .select(col("cap_name"), col("family"), col("kind"), col("guard_limit"),
        col("current_value"),
        expr("guard_limit * 100L div nullif(current_value, 0L)")
          .as("headroom_pct"),
        col("fallback"))
      .orderBy("cap_name")
  }

  lazy val capRegistrySql: String = {
    val metaVals = capMeta.map { case (path, name, fam, kind, lim, fb) =>
      s"('$path', '$name', '$fam', '$kind', CAST($lim AS BIGINT), '$fb')"
    }.mkString(",\n       |    ")
    s"""WITH audit AS MATERIALIZED (
       |  SELECT path, max_bucket FROM (${Dedup.capAuditSql})),
       |capmeta(path, cap_name, family, kind, guard_limit, fallback) AS (
       |  VALUES $metaVals),
       |${Graph.coEdgesSql},
       |mpairs AS (
       |  SELECT event_type AS f,
       |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
       |  FROM events),
       |ndsh AS MATERIALIZED (${graft.queries.Text.shingleSetsSql}),
       |ndh AS (SELECT doc_id,
       |  list_transform(shingles, t -> ${graft.queries.Hashes.md5Int32Sql("t")}) AS hs
       |  FROM ndsh WHERE len(shingles) > 0),
       |ndsig AS MATERIALIZED (
       |  SELECT DISTINCT ${Dedup.minhashSigSqlOverHs} AS sig FROM ndh),
       |ndshard AS MATERIALIZED (
       |  SELECT (list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(1, length(sig) + 1),
       |          i -> CAST(unicode(substr(sig, CAST(i AS INT), 1)) AS BIGINT))),
       |      (acc, c) -> ((acc * 31 + c + 2147483648) % 4294967296
       |                   + 4294967296) % 4294967296 - 2147483648)
       |    % 64 + 64) % 64 AS shard
       |  FROM ndsig),
       |ndcnt AS (SELECT shard, count(*) AS n FROM ndshard GROUP BY shard),
       |allrows AS (
       |  SELECT m.cap_name, m.family, m.kind, m.guard_limit,
       |    a.max_bucket AS current_value, m.fallback
       |  FROM audit a JOIN capmeta m USING (path)
       |  UNION ALL
       |  SELECT 'cap_markov_states', 'analytics', 'fail',
       |    CAST(${Analytics.MarkovMaxStates} AS BIGINT),
       |    (SELECT count(DISTINCT st)::BIGINT FROM (
       |       SELECT f AS st FROM mpairs WHERE t IS NOT NULL
       |       UNION ALL SELECT t FROM mpairs WHERE t IS NOT NULL)),
       |    'distributed power iteration: (f,t,p) cells JOIN pi_prev per round (Graph.pageRank shape)'
       |  UNION ALL
       |  SELECT 'cap_dyadic_digest_rows', 'analytics', 'fail',
       |    CAST(${Analytics.DyadMaxRows} AS BIGINT),
       |    (SELECT count(*)::BIGINT FROM (
       |       SELECT l, (c >> l) AS bucket FROM
       |         (SELECT greatest(0, least(CAST(round(value * 100) AS BIGINT),
       |            ${(1L << Analytics.DyadBits) - 1})) AS c FROM events) v,
       |         unnest(generate_series(${Analytics.DyadMinLevel},
       |            ${Analytics.DyadBits - 1})) t(l)
       |       GROUP BY l, (c >> l))),
       |    'raise DyadMinLevel (coarser tree) or aggregate per-group trees distributed'
       |  UNION ALL
       |  SELECT 'cap_pca_gram_dims', 'similarity', 'fail',
       |    CAST(${Similarity.PcaMaxDims} AS BIGINT),
       |    (SELECT max(len(embedding))::BIGINT FROM embeddings),
       |    'block the gram into per-tile aggregates or switch to distributed randomized SVD'
       |  UNION ALL
       |  SELECT 'cap_graph_broadcast_nodes', 'graph', 'switch',
       |    CAST(${graft.queries.Graph.BroadcastNodeStateMax} AS BIGINT),
       |    (SELECT count(DISTINCT n)::BIGINT FROM (
       |       SELECT a AS n FROM und UNION ALL SELECT b FROM und)),
       |    'keyed-shuffle rounds engage automatically above the limit (q_gr_connected_lss engine)'
       |  UNION ALL
       |  SELECT 'cap_export_page_rows', 'serving', 'bound',
       |    CAST(${graft.sources.Exports.MaxExportRows} AS BIGINT),
       |    least(${graft.sources.Exports.DefaultPageRows}, (SELECT count(*) FROM events))::BIGINT,
       |    'uncapped exports ship a partitioned directory, never a driver collect'
       |  UNION ALL
       |  SELECT 'cap_streaming_neardup_shard', 'streaming', 'skew',
       |    (SELECT CAST(2 * ceil(sum(n) / 64.0) AS BIGINT) FROM ndcnt),
       |    (SELECT max(n)::BIGINT FROM ndcnt),
       |    'raise MicroBatch.NearDupShards (layout, not semantics: signatures re-hash) or salt the shard key')
       |SELECT cap_name, family, kind, guard_limit, current_value,
       |  guard_limit * 100 // nullif(current_value, 0) AS headroom_pct,
       |  fallback
       |FROM allrows ORDER BY cap_name""".stripMargin
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ds_tcloseness" -> (tcloseness _),
    "q_ds_ldiv" -> (ldiv _),
    "q_ds_kanon" -> (kanon _),
    "q_ds_skew_audit" -> (skewAudit _),
    "q_ds_sample_preview" -> (samplePreview _),
    "q_ds_json_pred" -> (jsonPred _),
    "q_ds_shredded" -> (shredded _),
    "q_ds_field_discovery" -> (fieldDiscovery _),
    "q_ds_schema_drift" -> (schemaDrift _),
    "q_ds_group_collect" -> (groupCollect _),
    "q_ds_profile" -> (profile _),
    "q_ds_variant" -> (variantGet _),
    "q_ds_variant_schema" -> (variantSchema _),
    "q_ds_variant_unpivot" -> (variantUnpivot _),
    "q_ds_dq_audit" -> (dqAudit _),
    "q_ds_freshness" -> (freshness _),
    "q_ds_observe" -> (observeAudit _),
    "q_ds_cap_registry" -> (capRegistry _))

  val oracles: Map[String, String] = Map(
    "q_ds_tcloseness" -> tclosenessSql,
    "q_ds_ldiv" -> ldivSql,
    "q_ds_kanon" -> kanonSql,
    "q_ds_skew_audit" -> skewAuditSql,
    "q_ds_sample_preview" -> samplePreviewSql,
    "q_ds_json_pred" -> jsonPredSql,
    "q_ds_shredded" -> jsonPredSql,
    "q_ds_field_discovery" -> fieldDiscoverySql,
    "q_ds_schema_drift" -> schemaDriftSql,
    "q_ds_group_collect" -> groupCollectSql,
    "q_ds_profile" -> profileSql,
    "q_ds_variant" -> variantGetSql,
    "q_ds_variant_schema" -> variantSchemaSql,
    "q_ds_variant_unpivot" -> variantUnpivotSql,
    "q_ds_dq_audit" -> dqAuditSql,
    "q_ds_freshness" -> freshnessSql,
    "q_ds_observe" -> observeAuditSql,
    "q_ds_cap_registry" -> capRegistrySql)
}
