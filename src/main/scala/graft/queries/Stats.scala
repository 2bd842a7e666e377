package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical and temporal aggregates (SURVEY.md §2.7 gap table:
  * math/date functions beyond cast have no reference coverage; a
  * complete engine needs them).
  */
object Stats {

  /** Moments + correlation per group: avg/stddev/min/max of the
    * discounted price, corr(quantity, price). Rounded to absorb
    * accumulation-order float noise (both engines stream in scan
    * order; round(4) leaves >6 guard digits at these magnitudes).
    */
  def q33StatsAgg(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(stddev_samp(col("l_extendedprice")), 4).as("stddev_price"),
        round(min(col("l_extendedprice")), 2).as("min_price"),
        round(max(col("l_extendedprice")), 2).as("max_price"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"))
  }
  val q33Sql: String =
    """SELECT l_returnflag,
      |       round(avg(l_extendedprice), 4) AS avg_price,
      |       round(stddev_samp(l_extendedprice), 4) AS stddev_price,
      |       round(min(l_extendedprice), 2) AS min_price,
      |       round(max(l_extendedprice), 2) AS max_price,
      |       round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr
      |FROM lineitem GROUP BY 1""".stripMargin

  /** Calendar rollup: date_trunc/year/month/dayofweek extraction with
    * a month-over-month order count and value. Covers the date
    * function family end-to-end against the oracle's calendar.
    */
  def q34MonthlyOrders(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .select(year(col("o_orderdate")).as("order_year"),
        month(col("o_orderdate")).as("order_month"),
        col("o_totalprice"))
      .groupBy(col("order_year"), col("order_month"))
      .agg(count(lit(1)).as("order_count"),
        round(sum(col("o_totalprice")), 2).as("month_value"))
  }
  val q34Sql: String =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
      |       CAST(month(o_orderdate) AS INTEGER) AS order_month,
      |       count(*) AS order_count,
      |       round(sum(o_totalprice), 2) AS month_value
      |FROM orders GROUP BY 1, 2""".stripMargin

  /** Explicit GROUPING SETS (beyond rollup/cube): exactly two
    * single-dimension groupings in one scan — the "several GROUP BYs
    * for the price of one pass" form dashboards use. */
  def q40GroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .select(col("o_orderstatus"), col("o_orderpriority"), col("o_totalprice"))
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"),
        round(sum(col("o_totalprice")), 2).as("total_value"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("order_count"), col("total_value"))
  }
  val q40Sql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |       coalesce(o_orderpriority, 'ALL') AS priority,
      |       count(*) AS order_count,
      |       round(sum(o_totalprice), 2) AS total_value
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin

  /** Sketch aggregates — the right answer at 100 TB when exactness
    * isn't required: HyperLogLog++ distinct counts and quantile
    * sketches are mergeable, O(1)-memory-per-group, one-pass.
    *
    * Oracle strategy: raw approximate values differ across engines by
    * design, so the query emits TOLERANCE BOOLEANS instead — each group
    * computes both the sketch and the exact value in the same pass and
    * outputs `|approx − exact| / exact ≤ 0.05`. The DuckDB oracle emits
    * literal trues for the same groups, so a drifting sketch (HLL++ rsd
    * 0.02 or a 1000-bucket quantile sketch outside 5%) breaks the hash
    * match — a real check, not rows-only. The exact companions
    * (count distinct / percentile) are test-scale only; at 100 TB you'd
    * ship just the sketch half.
    *
    * PLAN SHAPE (this matters): the exact countDistinct must NOT share
    * an aggregate with the typed-imperative sketches. A combined
    * `agg(countDistinct, percentile, ...)` triggers the distinct-
    * rewrite Expand, which regroups the partial aggregation on
    * (flag, l_orderkey) — ~O(distinct orders) groups each holding an
    * OpenHashMap percentile buffer. That blows past the object-hash
    * fallback threshold (128 groups) into sort-based aggregation with
    * per-spill buffer serialization — measured 3+ MINUTES at sf0.1
    * vs sub-second split. Here: sketches + exact percentile aggregate
    * over 3 groups (3 long-lived buffers, no fallback), the exact
    * distinct count is its own pre-distinct codegen hash-agg, and the
    * two 3-row frames broadcast-join.
    */
  def q37Sketches(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_extendedprice"))
    val sketches = li.groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx_orders"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("approx_median_price"),
        percentile(col("l_extendedprice"), lit(0.5)).as("exact_median_price"))
    val exactOrders = li.select(col("l_returnflag"), col("l_orderkey"))
      .distinct()
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("exact_orders"))
    sketches.join(broadcast(exactOrders), "l_returnflag")
      .select(col("l_returnflag"),
        (abs(col("approx_orders") - col("exact_orders")) /
          col("exact_orders") <= 0.05).as("hll_within_5pct"),
        (abs(col("approx_median_price") - col("exact_median_price")) /
          col("exact_median_price") <= 0.05).as("median_within_5pct"))
  }
  val q37Sql: String =
    """SELECT l_returnflag,
      |       true AS hll_within_5pct,
      |       true AS median_within_5pct
      |FROM lineitem GROUP BY 1""".stripMargin

  /** Count-Min sketch dimensions: d=4 hash rows × w=64 buckets. Small
    * on purpose at test scale so collisions actually occur and the
    * overestimate column exercises the min-over-rows recovery; at
    * 100 TB you'd widen w (the cell table stays d×w regardless of
    * corpus size). */
  val CmsD = 4
  val CmsW = 64

  /** Row-i bucket for a token: first 8 md5 hex digits of "i:token" as
    * an integer, mod w — the same derivation both engines compute
    * byte-for-byte (the q43 fingerprint pattern), so the sketch is
    * DETERMINISTIC and the oracle hash-matches exact cell values, not
    * tolerance booleans. */
  /** Composed per-i spelling of one sketch bucket — the differential
    * reference for the fused `hash_positions` kernel (HashPositionsSpec). */
  private[graft] def cmsBucket(i: Int, t: Column): Column =
    conv(substring(md5(concat(lit(s"$i:"), t)), 1, 8), 16, 10)
      .cast("long") % CmsW

  /** Count-Min sketch heavy hitters (q68) — the streaming-friendly
    * answer to "top tokens" at 100 TB: the sketch state is d×w=256
    * cells TOTAL regardless of corpus size, each partition partial-
    * aggregates its cells map-side (the shuffle carries ≤256 rows per
    * task), and cells from any number of shards merge by addition.
    * The query builds the sketch, then recovers the true top-10's
    * estimates (min over the d cells each token hashes to) next to
    * their exact counts, emitting the CMS overestimate — ≥0 by
    * construction, >0 exactly where the 64-bucket rows collide.
    *
    * Both halves reuse ONE token scan; the probe side joins the
    * 256-row cell frame by broadcast, so nothing corpus-sized
    * shuffles twice. */
  /** All d sketch positions of a token — ONE native kernel call (the
    * composed per-i cmsBucket columns — kept as the q73-shared
    * differential reference — pay d hex-string roundtrips per token). */
  def cmsBuckets(token: Column): Column =
    graft.functions.HashPositionsFunctions.hash_positions(token, CmsD, CmsW)

  /** (sketch_row, bucket, cell_count) cells of a token frame — shared
    * by batch q68 and the incremental streaming sketch
    * (Streams.incrementalCms), so their cell arithmetic is one code
    * path; cells are mergeable integers (sum across any split of the
    * corpus — the property both map-side partials and micro-batch
    * accumulation rely on). */
  def cmsCells(tok: DataFrame): DataFrame =
    tok.select(posexplode(cmsBuckets(col("token"))).as(Seq("sketch_row", "bucket")))
      .groupBy(col("sketch_row"), col("bucket"))
      .agg(count(lit(1)).as("cell_count"))

  def q68CmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val tok = corpusTokens(s, dir)
    cmsHeavyHittersFrom(tok, cmsCells(tok))
  }

  /** The exploded non-empty corpus token stream (q68's input, shared
    * with the incremental edition q189). */
  private[graft] def corpusTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(graft.ops.TextOps.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")

  /** The q68 census tail over a token stream + a cells frame — ONE
    * definition for batch q68 (cells built in-query) and the
    * incremental snapshot (q189: cells summed from the monitor's
    * landed per-batch partials; the top-10 true counts are the exact
    * AUDIT column, recomputed in batch like q141's — the sketch is
    * what the monitor keeps, the audit is what measures it). */
  private[graft] def cmsHeavyHittersFrom(tok: DataFrame,
                                         cells: DataFrame): DataFrame = {
    val buckets = cmsBuckets(col("token"))
    val top = tok.groupBy(col("token"))
      .agg(count(lit(1)).as("true_count"))
      .orderBy(col("true_count").desc, col("token").asc)
      .limit(10)
    top.select(col("token"), col("true_count"),
        posexplode(buckets).as(Seq("sketch_row", "bucket")))
      .join(broadcast(cells), Seq("sketch_row", "bucket"))
      .groupBy(col("token"), col("true_count"))
      .agg(min(col("cell_count")).as("cms_estimate"))
      .withColumn("overestimate", col("cms_estimate") - col("true_count"))
  }
  val q68Sql: String = {
    def bucket(tok: String) =
      s"CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || $tok), 1, 8) AS BIGINT) % $CmsW"
    s"""WITH tok AS (
       |  SELECT t AS token
       |  FROM (SELECT unnest(str_split(text, ' ')) AS t FROM documents)
       |  WHERE t <> ''),
       |rows_i AS (SELECT unnest(range($CmsD)) AS i),
       |cells AS (
       |  SELECT i AS sketch_row, ${bucket("token")} AS bucket,
       |         count(*) AS cell_count
       |  FROM tok, rows_i GROUP BY 1, 2),
       |top AS (
       |  SELECT token, count(*) AS true_count FROM tok
       |  GROUP BY 1 ORDER BY true_count DESC, token ASC LIMIT 10),
       |probes AS (
       |  SELECT token, true_count, i AS sketch_row,
       |         ${bucket("token")} AS bucket
       |  FROM top, rows_i)
       |SELECT p.token, p.true_count,
       |       min(c.cell_count) AS cms_estimate,
       |       min(c.cell_count) - p.true_count AS overestimate
       |FROM probes p
       |JOIN cells c ON p.sketch_row = c.sketch_row AND p.bucket = c.bucket
       |GROUP BY 1, 2""".stripMargin
  }

  /** Cube over two dims (completes grouping-set coverage next to
    * q15's rollup): all four grouping combinations in one pass. */
  def q35StatusPriorityCube(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("order_count"))
  }
  val q35Sql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |       coalesce(o_orderpriority, 'ALL') AS priority,
      |       count(*) AS order_count
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin

  /** Bootstrap replica count for q102. */
  val BootReplicas = 16

  /** One-pass deterministic bootstrap (q102) — uncertainty
    * quantification for pipeline statistics: every census this engine
    * reports is a point estimate, and a curation decision ("source X
    * degraded this week") needs to know whether the movement exceeds
    * sampling noise. Each document contributes an integer weight in
    * {0,1,2} (mean 1) to each of B replicas via a seeded hash — a
    * deterministic surrogate for Poisson(1) resampling — so ALL B
    * resampled per-source means are computed in ONE corpus pass
    * (explode by the B×-literal, weighted sums). The dispersion
    * statistic is kept EXACT-integer: replica means in millichars,
    * and ss_milli = n·Σm² − (Σm)² (n times the unnormalized variance
    * — divide by n² client-side for the variance itself), so nothing
    * float crosses the engine boundary.
    *
    * Scale: the corpus scan grows B× in rows (weights are computed
    * scan-side; only (source, b) partial sums cross the shuffle —
    * O(sources·B) rows), then everything is O(sources·B). The explode
    * spelling keeps the oracle 1:1; [[q103BootstrapFused]] is the
    * 100 TB spelling (no row multiplication), asserted row-equal. */
  def q102BootstrapMoments(s: SparkSession, dir: String): DataFrame = {
    val w = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("b", explode(lit((0 until BootReplicas).toArray)))
      .withColumn("w",
        conv(substring(md5(concat_ws(":", lit("boot"), col("b"), col("doc_id"))
          .cast("binary")), 1, 4), 16, 10).cast("long") % 3)
    w.groupBy(col("source"), col("b"))
      .agg(sum(col("w")).as("wsum"), sum(col("w") * col("n_chars")).as("sw"))
      .filter(col("wsum") > 0)
      .withColumn("m", expr("sw * 1000 div wsum"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("replicas"),
        expr("sum(m) div count(1)").as("mean_millichars"),
        expr("count(1) * sum(m * m) - sum(m) * sum(m)").cast("long")
          .as("ss_milli"))
  }
  /** The FUSED spelling of [[q102BootstrapMoments]] (q103) — the one
    * you'd run at 100 TB: all B weights are computed as ONE array per
    * row inside the scan (`transform` over `sequence(0, B−1)`, same
    * seeded md5 per element), per-source partial sums are taken over
    * the B array slots in a single aggregation (2B sum expressions —
    * B is a small static constant, well inside codegen limits), and
    * only the O(sources·B) aggregated grid is posexploded for the
    * dispersion tail. The corpus scan is 1× rows instead of B×.
    * Identical output bit-for-bit: same weights, same integer
    * arithmetic, same oracle (q102Sql).
    *
    * Measured honestly (Bench --reps, sf0.1, warmed medians): fused 0.42s
    * vs explode 0.35s — the explode's B× row stream is absorbed by
    * map-side combine (shuffle rows are O(sources·B) in BOTH
    * spellings; scan bytes identical), while the fused agg pays 2B
    * aggregation buffers. The fused shape is the one that survives
    * when B grows (B=1000 bootstrap would explode 1000× rows through
    * the hash map) or when the aggregate carries wider payloads; at
    * B=16 the two are within noise. PLANS.md records the trade. */
  def q103BootstrapFused(s: SparkSession, dir: String): DataFrame = {
    val b = BootReplicas
    val ws = transform(sequence(lit(0), lit(b - 1)), bi =>
      conv(substring(md5(concat_ws(":", lit("boot"), bi, col("doc_id"))
        .cast("binary")), 1, 4), 16, 10).cast("long") % 3)
    val partials =
      (0 until b).map(i => sum(element_at(col("ws"), i + 1)).as(s"wsum_$i")) ++
        (0 until b).map(i =>
          sum(element_at(col("ws"), i + 1) * col("n_chars")).as(s"sw_$i"))
    val grid = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("ws", ws)
      .groupBy(col("source"))
      .agg(partials.head, partials.tail: _*)
      .select(col("source"), posexplode(array(
        (0 until b).map(i =>
          struct(col(s"wsum_$i").as("wsum"), col(s"sw_$i").as("sw"))): _*)))
      .select(col("source"), col("col.wsum").as("wsum"), col("col.sw").as("sw"))
    grid.filter(col("wsum") > 0)
      .withColumn("m", expr("sw * 1000 div wsum"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("replicas"),
        expr("sum(m) div count(1)").as("mean_millichars"),
        expr("count(1) * sum(m * m) - sum(m) * sum(m)").cast("long")
          .as("ss_milli"))
  }

  val q102Sql: String =
    s"""WITH reps AS (
       |  SELECT unnest(generate_series(0, ${BootReplicas - 1})) AS b),
       |w AS (
       |  SELECT source, doc_id, n_chars, b,
       |         CAST('0x' || substr(md5('boot:' || b || ':' || doc_id), 1, 4)
       |              AS BIGINT) % 3 AS w
       |  FROM documents, reps),
       |rep AS (
       |  SELECT source, b, CAST(sum(w) AS BIGINT) AS wsum,
       |         CAST(sum(w * n_chars) AS BIGINT) AS sw
       |  FROM w GROUP BY 1, 2),
       |m AS (SELECT source, b, sw * 1000 // wsum AS m
       |      FROM rep WHERE wsum > 0)
       |SELECT source, count(*) AS replicas,
       |       CAST(sum(m) // count(*) AS BIGINT) AS mean_millichars,
       |       CAST(count(*) * sum(m * m) - sum(m) * sum(m) AS BIGINT) AS ss_milli
       |FROM m GROUP BY 1""".stripMargin

  /** Robust (MAD-based) outlier census (q111): per event_type, the
    * median/MAD location-scale pair and the count of events beyond
    * the 3σ-equivalent robust fence — the anomaly screen that, unlike
    * the q33 mean/stddev family, a few extreme values cannot drag
    * (mean and stddev are both unbounded-influence; median and MAD
    * have 50% breakdown, so the fence stays put while z-scores
    * self-launder).
    *
    * Exact-integer discipline: values are 2-decimal currency, so
    * everything runs in integer CENTS — median×2 and MAD×4 are exact
    * BIGINTs (a median of an even count is a half-integer; ×2 clears
    * it, the MAD doubles again), and the fence comparison
    * 20000·d2 > 44478·mad4 is the integer cross-multiplied form of
    * |v−med| > 3·1.4826·MAD — no float comparison whose last-ulp
    * disagreement between engines could flip a count.
    *
    * Scale shape: THREE scans of events as written — median, MAD, and
    * the fence census (the census re-derives the deviations rather
    * than caching the corpus-scale `dev` frame; a persist would trade
    * executor memory/spill for the third scan — worth it only when
    * the cents projection fits the storage tier). Each scan ends in an
    * O(types) aggregate and the 5-row stats frame broadcasts back
    * onto it. At 100 TB the exact medians would move to a two-round
    * distributed selection or an approx_percentile sketch with
    * documented error — the fence census itself is unchanged either
    * way.
    */
  def q111MadOutliers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val cents = Tables.events(s, dir)
      .select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("c"))
    val med = cents.groupBy(col("event_type"))
      .agg(round(expr("percentile(c, 0.5)") * 2, 0).cast("long").as("m2"))
    val dev = cents.join(broadcast(med), "event_type")
      .withColumn("d2", abs(col("c") * 2 - col("m2")))
    val mad = dev.groupBy(col("event_type"))
      .agg(round(expr("percentile(d2, 0.5)") * 2, 0).cast("long").as("mad4"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(max(col("m2")) / 200.0, 4).as("median_value"),
        round(max(col("mad4")) / 400.0, 4).as("mad_value"),
        sum(when(col("d2") * 20000 > col("mad4") * 44478, 1L)
          .otherwise(0L)).as("outliers"))
      .withColumn("outlier_ppm", expr("outliers * 1000000 div n"))
  }
  val q111Sql: String =
    """WITH cents AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events),
      |med AS (
      |  SELECT event_type, CAST(round(median(c) * 2) AS BIGINT) AS m2
      |  FROM cents GROUP BY 1),
      |dev AS (
      |  SELECT cents.event_type, c, abs(c * 2 - m2) AS d2, m2
      |  FROM cents JOIN med ON cents.event_type = med.event_type),
      |mad AS (
      |  SELECT event_type, CAST(round(median(d2) * 2) AS BIGINT) AS mad4
      |  FROM dev GROUP BY 1)
      |SELECT dev.event_type, count(*) AS n,
      |       round(max(m2) / 200.0, 4) AS median_value,
      |       round(max(mad4) / 400.0, 4) AS mad_value,
      |       CAST(sum(CASE WHEN d2 * 20000 > mad4 * 44478 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS outliers,
      |       CAST(sum(CASE WHEN d2 * 20000 > mad4 * 44478 THEN 1 ELSE 0 END)
      |            AS BIGINT) * 1000000 // count(*) AS outlier_ppm
      |FROM dev JOIN mad ON dev.event_type = mad.event_type
      |GROUP BY 1""".stripMargin

  // ---------------------------------------- key-skew census (q130)

  /** Join-key skew census (q130): the shuffle-planning diagnostic —
    * for each (table, key) a pipeline joins or aggregates on, the
    * numbers that decide between a plain hash shuffle, AQE skew
    * splitting, and the q42 salting spelling: total rows, distinct
    * keys, the heaviest key's row count, its corpus share in ppm, and
    * the max/avg ratio ×100 (a flat distribution reads 100; a Zipf
    * head reads thousands). This is the census the PLANS.md skew
    * notes (q95/q104) cite informally — made a first-class,
    * oracle-checked operator so "is this key safe to shuffle on"
    * is a query, not a guess.
    *
    * Scale shape: one hash-aggregate per probed key with map-side
    * combine (the skewed key's popularity is absorbed into partial
    * counts BEFORE the exchange — counting a hot key is safe even
    * when joining on it is not), then an O(distinct keys) rollup;
    * output is one row per probe.
    */
  def q130KeySkewCensus(s: SparkSession, dir: String): DataFrame = {
    def probe(df: DataFrame, keyCol: String, label: String): DataFrame =
      df.groupBy(col(keyCol).cast("string").as("k"))
        .agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("distinct_keys"), sum(col("c")).as("rows"),
          max(col("c")).as("max_key_rows"))
        .select(lit(label).as("probe"), col("rows").cast("long").as("rows"),
          col("distinct_keys"), col("max_key_rows"))
    probe(Tables.lineitem(s, dir), "l_orderkey", "lineitem.l_orderkey")
      .unionAll(probe(Tables.orders(s, dir), "o_custkey", "orders.o_custkey"))
      .unionAll(probe(Tables.events(s, dir), "user_id", "events.user_id"))
      .unionAll(probe(Tables.documents(s, dir), "source", "documents.source"))
      .withColumn("top1_ppm", expr("max_key_rows * 1000000 div rows"))
      .withColumn("skew_x100",
        expr("max_key_rows * 100 div (rows div distinct_keys)"))
  }
  val q130Sql: String = {
    def probe(table: String, key: String): String =
      s"""SELECT '$table.$key' AS probe,
         |       CAST(sum(c) AS BIGINT) AS rows, count(*) AS distinct_keys,
         |       CAST(max(c) AS BIGINT) AS max_key_rows
         |FROM (SELECT CAST($key AS VARCHAR) AS k, count(*) AS c
         |      FROM $table GROUP BY 1)""".stripMargin
    s"""WITH base AS (
       |${probe("lineitem", "l_orderkey")}
       |UNION ALL
       |${probe("orders", "o_custkey")}
       |UNION ALL
       |${probe("events", "user_id")}
       |UNION ALL
       |${probe("documents", "source")})
       |SELECT probe, rows, distinct_keys, max_key_rows,
       |       max_key_rows * 1000000 // rows AS top1_ppm,
       |       max_key_rows * 100 // (rows // distinct_keys) AS skew_x100
       |FROM base""".stripMargin
  }

  // -------------------------------------------------- KMV sketch (q135)

  /** KMV sketch size. 32 keeps the expected relative error ~1/√(k−2)
    * ≈ 18% — wide on purpose at test scale so the err_ppm column
    * carries signal; at 100 TB you'd raise k (buffer stays O(k)). */
  private[graft] val KmvK = 32
  private val KmvEst: Long = (KmvK - 1).toLong * 4294967296L // (k−1)·2³²

  /** KMV distinct-chunk estimate per source (q135): how many DISTINCT
    * retrieval chunks does each source contribute — answered by the
    * deterministic K-minimum-values sketch ([[graft.functions.KmvAgg]])
    * next to the exact distinct count and the realized error. This is
    * q37's approx-distinct rung done the reproducible way: md5-derived
    * 32-bit hashes order identically everywhere, so the oracle
    * hash-matches the ESTIMATE itself — no tolerance booleans.
    *
    * Scale shape: the kernel path never shuffles the distinct hash
    * set — each partition partial-aggregates to ≤k longs and partials
    * merge associatively (at 100 TB that's the whole point: the
    * exact column's distinct pre-aggregation is the expensive thing
    * the sketch exists to avoid, and it rides along here only as the
    * audit). The two O(sources) frames broadcast-join, q37's split —
    * fusing countDistinct into the sketch agg would trigger the
    * distinct-rewrite Expand and regroup the TreeSet buffers on
    * (source, h): the q37 object-hash-fallback trap, documented at
    * [[q37Sketches]].
    */
  /** (source, h) 32-bit chunk-fingerprint hashes of a documents frame
    * — q135's sketch universe, frame-parameterized so the incremental
    * twin hashes micro-batches identically. */
  private[graft] def chunkHashesOf(docs: DataFrame): DataFrame =
    Text.docChunksOf(docs)
      .select(col("source"),
        conv(substring(md5(col("chunk").cast("binary")), 1, 8), 16, 10)
          .cast("long").as("h"))

  /** (source, exact_distinct) audit counts over 60-bit (15-hex-char)
    * chunk hashes — deliberately WIDER than the sketch's 32-bit
    * universe: the audit column exists to measure the sketch against
    * distinct CHUNKS, and at ~10⁵ chunks/source the 32-bit universe
    * already loses ~1‰ to birthday collisions, which would bias
    * err_ppm into measuring sketch-vs-hash-universe instead. 60 bits
    * keeps the collision term < 1 ppm out to ~10⁸ chunks while still
    * fitting a BIGINT on both engines (16 hex chars would overflow a
    * signed long). Shared by batch q135 and the q141 snapshot. */
  private[graft] def chunkAuditDistinct(docs: DataFrame): DataFrame =
    Text.docChunksOf(docs)
      .select(col("source"),
        conv(substring(md5(col("chunk").cast("binary")), 1, 15), 16, 10)
          .cast("long").as("ah"))
      .distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("exact_distinct"))

  /** (source, n, kth) via the native kernel — the sketch side. */
  private[graft] def kmvSketchOf(h: DataFrame): DataFrame =
    h.groupBy(col("source"))
      .agg(graft.functions.KmvAgg.kmv_agg(col("h"), KmvK).as("kmv"))
      .select(col("source"), col("kmv.n").as("n"), col("kmv.kth").as("kth"))

  /** Estimate + audit columns over a (source, n, kth) sketch frame
    * and a (source, exact_distinct) audit frame — ONE census
    * definition for batch q135 and the streamed snapshot (q141). */
  private[graft] def kmvCensus(sk: DataFrame, exact: DataFrame): DataFrame =
    sk.join(broadcast(exact), "source")
      .withColumn("est_distinct",
        expr(s"CASE WHEN n < $KmvK THEN n ELSE $KmvEst div kth END"))
      .withColumn("err_ppm",
        expr("abs(est_distinct - exact_distinct) * 1000000 div exact_distinct"))

  def q135KmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    kmvCensus(kmvSketchOf(chunkHashesOf(docs)), chunkAuditDistinct(docs))
  }
  val q135Sql: String =
    s"""WITH ${Text.chunksSqlCte},
       |h AS (SELECT DISTINCT source,
       |        CAST('0x' || substr(md5(chunk), 1, 8) AS BIGINT) AS h
       |      FROM ch),
       |ex AS (SELECT source,
       |         count(DISTINCT CAST('0x' || substr(md5(chunk), 1, 15)
       |                             AS BIGINT)) AS exact_distinct
       |       FROM ch GROUP BY 1),
       |rk AS (SELECT source, h,
       |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |       FROM h),
       |sk AS (SELECT source,
       |         count(CASE WHEN rn <= $KmvK THEN 1 END) AS n,
       |         max(CASE WHEN rn <= $KmvK THEN h END) AS kth
       |       FROM rk GROUP BY 1),
       |est AS (SELECT source, n, kth, exact_distinct,
       |          CASE WHEN n < $KmvK THEN n
       |               ELSE $KmvEst // kth END AS est_distinct
       |        FROM sk JOIN ex USING (source))
       |SELECT source, n, kth, exact_distinct, est_distinct,
       |       abs(est_distinct - exact_distinct) * 1000000
       |         // exact_distinct AS err_ppm
       |FROM est""".stripMargin

  // -------------------------------- sampled quantiles (q155 / q156)

  /** Sample size for the bottom-k quantile sketch — 256 values bound
    * the ceil-rank quantile's deviation like any uniform-sample
    * estimator (±~6% of rank mass at p50, 95% CI); the audit columns
    * measure the realized error per source. */
  val SampleK = 256

  /** (source, h, v) rows for the quantile sample: a 60-bit md5 row
    * hash (the q135 audit-hash collision budget — the BottomKSample
    * buffer collapses equal (h, v) pairs, so the hash must make that
    * term sub-ppm) and the doc length as the sampled value. */
  private[graft] def quantileSampleOf(docs: DataFrame): DataFrame =
    docs.select(col("source"),
      conv(substring(md5(concat(lit("qtl:"), col("doc_id").cast("string"))),
        1, 15), 16, 10).cast("long").as("h"),
      col("n_chars").cast("long").as("v"))

  /** Exact per-source median of n_chars by the ceil-rank convention —
    * the audit side. Sorts each source once (two windows over one
    * exchange, the q140 discipline); this is the column you DROP at
    * 100 TB — the sample is what you keep, and err_pm measures
    * exactly that trade. */
  private[graft] def exactMedianOf(docs: DataFrame): DataFrame = {
    val byLen = Window.partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    docs.select(col("source"), col("n_chars").cast("long").as("n_chars"),
        col("doc_id"))
      .withColumn("r", row_number().over(byLen).cast("long"))
      .withColumn("c",
        count(lit(1)).over(Window.partitionBy(col("source"))).cast("long"))
      .groupBy(col("source"))
      .agg(max(when(expr("r = (c * 50 + 99) div 100"), col("n_chars")))
        .as("exact_p50"))
  }

  /** The census over (source, h, v) sample-pair rows + the exact
    * audit — ONE definition for batch q155 and the incremental
    * snapshot (q156): bottom-k via the native kernel, then integer
    * ceil-rank quantiles indexed from the sorted sample (identical
    * spelling in the DuckDB oracle, so the estimates hash-match). */
  private[graft] def sampledQuantileCensus(pairs: DataFrame,
                                           exact: DataFrame,
                                           k: Int = SampleK): DataFrame = {
    // A source whose every (h, v) pair was null (e.g. all-null
    // n_chars) leaves an EMPTY bottom-k sample: the ceil-rank index
    // is then 0 and bare element_at dies with Spark's opaque "SQL
    // array indices start at 1" far from the cause (where the DuckDB
    // spelling would emit NULL quantiles — no hash-match is possible
    // either way). Fail loudly, naming the source.
    def q(p: Int) = expr(
      s"""CASE WHEN size(sample) >= 1
         |  THEN element_at(sample,
         |         cast((size(sample) * $p + 99) div 100 as int))
         |  ELSE CAST(raise_error('sampledQuantileCensus: source "'
         |    || source || '" produced an EMPTY quantile sample — every '
         |    || 'hash/value pair was null; repair or drop the source')
         |    AS BIGINT) END""".stripMargin)
    pairs.groupBy(col("source"))
      .agg(graft.functions.BottomKSample
        .bottomk_sample(col("h"), col("v"), k).as("sample"))
      .select(col("source"), size(col("sample")).cast("long").as("sample_n"),
        q(50).as("p50"), q(90).as("p90"), q(99).as("p99"))
      .join(broadcast(exact), "source")
      .withColumn("p50_err_pm",
        expr("abs(p50 - exact_p50) * 1000 div greatest(exact_p50, 1)"))
  }

  /** Deterministic sampled quantiles (q155) — length-distribution
    * monitoring at sketch cost: per source, p50/p90/p99 of n_chars
    * estimated from a bottom-k-by-hash sample
    * ([[graft.functions.BottomKSample]] — O(k) state, map-side
    * partial merge, merge-order-invariant), exact median as audit.
    * t-digest / GK / `approx_percentile` cannot sit on this oracle
    * board: their results depend on merge order, which both the
    * DuckDB hash-compare and the partitioning-invariance gate forbid;
    * a bottom-k-of-uniform-hash sample is a uniform sample with NONE
    * of that order dependence (the KMV determinism argument, quantile
    * edition). Min-merge family, so q156 lands per-batch partials
    * through this same census. */
  /** The k the REGISTERED q155/q156 pin: smaller than every driver
    * source (25 docs/source at sf0.01), so the oracle rows exercise
    * the TRUNCATING bottom-k path — with the production default
    * (k=256 > any driver source) the sample would be the under-full
    * identity and the oracle would never see a sampling decision. */
  val QuantileRegK = 16

  def q155SampledQuantiles(s: SparkSession, dir: String,
                           k: Int = QuantileRegK): DataFrame = {
    val docs = Tables.documents(s, dir)
    sampledQuantileCensus(quantileSampleOf(docs), exactMedianOf(docs), k)
  }
  val q155Sql: String =
    s"""WITH hv AS (
       |  SELECT source, CAST(n_chars AS BIGINT) AS v,
       |         CAST('0x' || substr(md5('qtl:' || CAST(doc_id AS VARCHAR)),
       |                             1, 15) AS BIGINT) AS h
       |  FROM documents),
       |samp AS (
       |  SELECT source, v FROM (
       |    SELECT source, v,
       |           row_number() OVER (PARTITION BY source ORDER BY h, v) AS rn
       |    FROM hv) WHERE rn <= $QuantileRegK),
       |sv AS (
       |  SELECT source, v,
       |         row_number() OVER (PARTITION BY source ORDER BY v) AS vr,
       |         count(*) OVER (PARTITION BY source) AS m
       |  FROM samp),
       |qn AS (
       |  SELECT source, CAST(max(m) AS BIGINT) AS sample_n,
       |         max(CASE WHEN vr = (m * 50 + 99) // 100 THEN v END) AS p50,
       |         max(CASE WHEN vr = (m * 90 + 99) // 100 THEN v END) AS p90,
       |         max(CASE WHEN vr = (m * 99 + 99) // 100 THEN v END) AS p99
       |  FROM sv GROUP BY 1),
       |ex AS (
       |  SELECT source,
       |         max(CASE WHEN r = (c * 50 + 99) // 100 THEN n_chars END)
       |           AS exact_p50
       |  FROM (SELECT source, CAST(n_chars AS BIGINT) AS n_chars,
       |               row_number() OVER (PARTITION BY source
       |                                  ORDER BY n_chars, doc_id) AS r,
       |               count(*) OVER (PARTITION BY source) AS c
       |        FROM documents) GROUP BY 1)
       |SELECT qn.source, sample_n, p50, p90, p99, exact_p50,
       |       abs(p50 - exact_p50) * 1000
       |         // greatest(exact_p50, 1) AS p50_err_pm
       |FROM qn JOIN ex USING (source)""".stripMargin

  // -------------------------------------------------- Spearman (q140)

  /** Spearman rank correlation, exact-integer (q140): does document
    * LENGTH predict lexical QUALITY (the q127 TTR permille score),
    * per source — answered with ρ = 1 − 6Σd²/(n(n²−1)) computed
    * entirely in integer arithmetic, published in ppm. Rank
    * correlation is the right tool over a curation pipeline's skewed,
    * outlier-heavy columns (Pearson would chase the tail, and its
    * sqrt can't cross the exact-oracle boundary); the answer decides
    * whether a length floor is secretly a quality filter. Ties take
    * the doc_id tie-break — a pinned total order, not the fractional
    * tie-rank convention; both engines walk the identical permutation
    * so the oracle is bit-exact (the q109 attribution rule, rank
    * edition).
    *
    * Scale shape: one doc-grain scan computes both scores; the two
    * rank windows partition by source and sort O(docs/source) each —
    * the same exchange (hash on source) feeds both sorts; Σd² then
    * collapses per source in one hash-agg. The ρ arithmetic runs on
    * O(sources) rows in DECIMAL(38): 6Σd² reaches ~n³, past a long
    * at ~2M docs per source. Spark `div` and DuckDB `//` both
    * truncate toward zero, so negative ρ needs no offset trick
    * (verified: −7 div 2 = −3 in both).
    */
  def q140SpearmanLenQuality(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), col("n_chars"),
        expr("size(split(text, ' '))").as("toks"),
        expr("size(array_distinct(split(text, ' ')))").as("types"))
      .withColumn("score_pm", expr("types * 1000 div toks"))
    val byLen = Window.partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    val byScore = Window.partitionBy(col("source"))
      .orderBy(col("score_pm"), col("doc_id"))
    scored
      .withColumn("rx", row_number().over(byLen).cast("long"))
      .withColumn("ry", row_number().over(byScore).cast("long"))
      .groupBy(col("source"))
      // Σd² accumulates in DECIMAL from the first multiply: a long
      // sum wraps at ~3e6 docs/source (Σd² ~ n³/6), a thousand times
      // earlier than the n³ denominator the CASE below widens — and
      // the wrapped-long spelling would diverge silently from
      // DuckDB's HUGEINT. The column stays internal: publishing it
      // as BIGINT would reintroduce the same cap at the output.
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(rx - ry AS DECIMAL(38,0)) * (rx - ry)")).as("d2"))
      // n*n stays inside the DECIMAL product (a long n*n wraps past
      // ~3e9 docs/source); n < 2 has no defined rank correlation —
      // NULL on both engines, never a division by zero
      .withColumn("rho_ppm", expr(
        """CASE WHEN n < 2 THEN CAST(NULL AS BIGINT) ELSE
          |  CAST((CAST(n AS DECIMAL(38,0)) * n * n - n - 6 * d2)
          |    * 1000000 div (CAST(n AS DECIMAL(38,0)) * n * n - n) AS BIGINT)
          |END""".stripMargin))
      .select(col("source"), col("n"), col("rho_ppm"))
  }
  val q140Sql: String =
    """WITH scored AS (
      |  SELECT source, doc_id, n_chars,
      |         CAST(len(str_split(text, ' ')) AS BIGINT) AS toks,
      |         CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT) AS types
      |  FROM documents),
      |ranked AS (
      |  SELECT source,
      |         row_number() OVER (PARTITION BY source
      |           ORDER BY n_chars, doc_id) AS rx,
      |         row_number() OVER (PARTITION BY source
      |           ORDER BY types * 1000 // toks, doc_id) AS ry
      |  FROM scored),
      |agg AS (
      |  SELECT source, count(*) AS n,
      |         sum((rx - ry) * (rx - ry)) AS d2
      |  FROM ranked GROUP BY 1)
      |SELECT source, n,
      |       CASE WHEN n < 2 THEN CAST(NULL AS BIGINT) ELSE
      |         CAST((CAST(n AS HUGEINT) * n * n - n - 6 * CAST(d2 AS HUGEINT))
      |           * 1000000 // (CAST(n AS HUGEINT) * n * n - n) AS BIGINT)
      |       END AS rho_ppm
      |FROM agg""".stripMargin
}
