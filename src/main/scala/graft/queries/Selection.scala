package graft.queries

import graft.Tables
import graft.ops.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-objective / budgeted data-selection operators — the two
  * selection shapes a curation run reaches for once single-score
  * filtering (q22 buckets, q127 deciles, q160 bands) is exhausted:
  * a Pareto frontier over competing objectives, and a hard global
  * token budget.
  *
  * Both are spelled WITHOUT a global sort: the corpus-scale work is
  * hash-keyed windows plus a tiny (score-class / bucket-count sized)
  * prefix frame that broadcasts back — the distributed prefix-scan
  * decomposition. This is the at-scale answer to the "one global
  * ORDER BY" that q127's scaladoc flags as its honest 100 TB trade.
  */
object Selection {

  /** Per-doc selection objectives — ONE scoring discipline shared by
    * q166/q169 and identical to q127's curriculum score, so "quality"
    * can never mean two things in the same pipeline: token count and
    * type-token ratio in integer permille (ties broken by doc_id
    * downstream; no float crosses any cut). */
  private[graft] def ttrScored(s: SparkSession, dir: String): DataFrame =
    ttrScoredOf(Tables.documents(s, dir))

  /** [[ttrScored]] over any (doc_id, source, text) frame — the shape
    * the incremental twin (q178) scores per micro-batch; ONE scoring
    * definition so batch and ingest can never drift. */
  private[graft] def ttrScoredOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("t"),
        size(array_distinct(TextOps.tokens(col("text")))).cast("long")
          .as("types"))
      .withColumn("r", expr("types * 1000 div t"))
      .drop("types")

  /** The scored-manifest CTE over an arbitrary documents relation
    * (DuckDB spelling of [[ttrScored]] — q127Sql's score arithmetic
    * verbatim) —
    * parameterized so the q220 vacuum oracle can pass the live-rows
    * subquery (the verifiedPairsSqlCtes pattern). */
  private def scoredCteFrom(from: String): String =
    s"""scored AS (
       |  SELECT doc_id, source,
       |         CAST(len(str_split(text, ' ')) AS BIGINT) AS t,
       |         CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT)
       |           * 1000 // CAST(len(str_split(text, ' ')) AS BIGINT) AS r
       |  FROM $from)""".stripMargin

  private val scoredCte: String = scoredCteFrom("documents")

  /** Bucket width for the frontier's coarse grid on the token axis.
    * Data-independent (a fixed integer divisor of t), so bucketing is
    * deterministic — no sampled range boundaries to drift between
    * runs. */
  val FrontierBucket = 64L

  /** Pareto frontier (q166) — multi-objective document selection:
    * keep every document not dominated under (maximize tokens t,
    * maximize type-token ratio r). A dominates B iff t_A ≥ t_B and
    * r_A ≥ r_B with at least one strict; equal (t, r) twins are
    * mutually non-dominated and both survive. The two objectives pull
    * against each other (long documents repeat tokens), so the
    * frontier is the "no free lunch" boundary a curation run trades
    * along — every kept doc is the best available r at its length.
    *
    * Scale shape — the grid-partitioned skyline, not a global sort:
    * dominance splits exactly three ways and each way is a keyed
    * window or a tiny broadcast:
    *   1. dominator in a HIGHER t-bucket (t' > t guaranteed): per-
    *      bucket max-r suffix-scanned over the tiny bucket frame
    *      (≤ max_t / [[FrontierBucket]] rows) and broadcast back —
    *      dominated iff that suffix max ≥ r.
    *   2. dominator in the SAME bucket with t' > t: max-r over a
    *      range frame (t DESC, 1 PRECEDING) inside the bucket — a
    *      hash-keyed window, never global.
    *   3. dominator with t' = t, r' > r: max-r over the (bucket, t)
    *      sub-window — same exchange, dominated iff r below it.
    * Every corpus-sized operation is hashed on bkt; the only ordered
    * structure is the bucket frame, whose size is bounded by the
    * longest document, not the corpus.
    */
  def q166ParetoFrontier(s: SparkSession, dir: String): DataFrame =
    frontierKept(ttrScored(s, dir))
      .select(col("doc_id"), col("source"),
        col("t").as("n_toks"), col("r").as("ttr_pm"))

  /** The skyline kernel over any scored (doc_id, source, t, r) frame,
    * returning the surviving rows with their raw columns — ONE
    * dominance definition for batch q166 and the incremental twin's
    * per-batch partials AND cross-batch merge (q182; the merge law is
    * frontier(A ∪ B) ⊆ frontier(A) ∪ frontier(B): dominance is
    * transitive, so a doc dominated within its own batch is dominated
    * in any union containing that batch — per-batch skylines lose
    * nothing). */
  private[graft] def frontierKept(scoredIn: DataFrame): DataFrame = {
    // scanned twice (bucket frame + dominance pass) — measured at
    // sf0.1: materializing first (the q169 localCheckpoint) is ~20%
    // SLOWER here (0.83→1.02s median; only one extra scan to save,
    // and the second consumer is a tiny O(buckets) agg). At corpus
    // scales where re-tokenizing dominates, flip to the q169 spelling.
    val scored = scoredIn
      .withColumn("bkt", expr(s"t div $FrontierBucket"))
    // tiny frame: per-bucket max r, then the suffix max over strictly
    // higher buckets (rows preceding under bkt DESC)
    val suffix = scored.groupBy(col("bkt")).agg(max(col("r")).as("bm"))
      .withColumn("hmax", max(col("bm")).over(
        Window.orderBy(col("bkt").desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("bkt"), col("hmax"))
    val inBucket = Window.partitionBy(col("bkt")).orderBy(col("t").desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    scored.join(broadcast(suffix), Seq("bkt"), "left")
      .withColumn("m1", max(col("r")).over(inBucket))
      .withColumn("mt", max(col("r")).over(
        Window.partitionBy(col("bkt"), col("t"))))
      .filter(col("r") > coalesce(col("hmax"), lit(-1L)) &&
        col("r") > coalesce(col("m1"), lit(-1L)) &&
        col("r") === col("mt"))
      .select(col("doc_id"), col("source"), col("t"), col("r"))
  }

  /** q166 oracle — the bucket decomposition collapses back to two
    * global windows (the buckets only exist to keep Spark's windows
    * keyed): dominated iff max r over strictly-longer docs ≥ r, or r
    * below the max r of its exact length. */
  val q166Sql: String =
    s"""WITH $scoredCte,
       |w AS (
       |  SELECT *,
       |         max(r) OVER (ORDER BY t DESC
       |           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1,
       |         max(r) OVER (PARTITION BY t) AS mt
       |  FROM scored)
       |SELECT doc_id, source, t AS n_toks, r AS ttr_pm
       |FROM w WHERE r > coalesce(m1, -1) AND r = mt""".stripMargin

  /** Kept fraction of the corpus token mass for q169 (integer
    * percent). */
  val BudgetPct = 40L

  /** doc_id bucket width for the boundary class's two-pass prefix
    * sum — bounds the widest window partition q169 ever sorts. */
  val BudgetBucket = 4096L

  /** The budget prefix's KEPT rows (source, doc_id, t, r) — the one
    * shared core of q169 (global budget, `keys = Nil`) and q170
    * (per-source budgets, `keys = Seq("source")`). Within each key
    * group, documents are ranked (r DESC, doc_id) and the best prefix
    * whose running token total fits `pct`% of the GROUP's token mass
    * survives.
    *
    * Scale shape — a distributed prefix scan, no corpus-grain sort:
    *   1. token mass per (keys, score CLASS) — ≤ |groups|·1001 rows:
    *      one hash agg, then the exclusive prefix over the tiny class
    *      frame classifies every class keep-all / drop-all / boundary
    *      (at most ONE boundary class per group — the prefix
    *      intervals partition each group's number line).
    *   2. only boundary-class docs need per-doc resolution, and their
    *      prefix is itself two-passed: doc_id div [[BudgetBucket]]
    *      buckets → tiny (keys, bucket)-prefix frame → an in-bucket
    *      running sum. No window partition ever exceeds
    *      [[BudgetBucket]]-ish docs, no matter how many documents tie
    *      at a cut score — the hot-key failure mode of "window over
    *      the one boundary class" is designed out.
    * Equivalence to the one-cumsum-per-group oracle: the group order
    * (r DESC, doc_id) visits classes contiguously, so inclusive-cum ≤
    * B decomposes exactly into class-prefix + in-class prefix.
    */
  private def budgetKept(perDoc: DataFrame, keys: Seq[String],
                         pct: Long): DataFrame = {
    val kc = keys.map(col)
    val classes = perDoc.groupBy((kc :+ col("r")): _*)
      .agg(sum(col("t")).as("ctoks"))
      .withColumn("p", coalesce(sum(col("ctoks")).over(
        Window.partitionBy(kc: _*).orderBy(col("r").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("gtoks",
        sum(col("ctoks")).over(Window.partitionBy(kc: _*)))
      .withColumn("b", expr(s"gtoks * $pct div 100"))
      .withColumn("cls",
        when(col("p") + col("ctoks") <= col("b"), lit("keep"))
          .when(col("p") > col("b"), lit("drop"))
          .otherwise(lit("bdy")))
    val joined = perDoc
      .join(broadcast(classes.select(
        (kc :+ col("r") :+ col("p") :+ col("b") :+ col("cls")): _*)),
        keys :+ "r")
    val keptFull = joined.filter(col("cls") === "keep")
      .select(col("source"), col("doc_id"), col("t"), col("r"))
    val bdy = joined.filter(col("cls") === "bdy")
      .withColumn("bb", expr(s"doc_id div $BudgetBucket"))
    val bucketPrefix = bdy.groupBy((kc :+ col("bb")): _*)
      .agg(sum(col("t")).as("btoks"))
      .withColumn("q", coalesce(sum(col("btoks")).over(
        Window.partitionBy(kc: _*).orderBy(col("bb"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select((kc :+ col("bb") :+ col("q")): _*)
    val keptBdy = bdy.join(broadcast(bucketPrefix), keys :+ "bb")
      .withColumn("w", sum(col("t")).over(
        Window.partitionBy((kc :+ col("bb")): _*).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("p") + col("q") + col("w") <= col("b"))
      .select(col("source"), col("doc_id"), col("t"), col("r"))
    keptFull.union(keptBdy)
  }

  /** Token-budget selection (q169) — the terminal act of a curation
    * run: rank documents by quality (TTR permille, doc_id tie-break)
    * and keep the best prefix whose running token total fits a hard
    * budget B = [[BudgetPct]]% of the corpus token mass. Emits the
    * per-source census of what survived plus the realized quality
    * cut — the number a dataset card records as "kept top-X% by
    * quality to a N-token budget". Core: [[budgetKept]] with no group
    * keys — ONE global budget, high-quality sources free to crowd out
    * the rest (q170 is the fairness twin).
    */
  def q169TokenBudget(s: SparkSession, dir: String): DataFrame =
    budgetCensus(ttrScored(s, dir))

  /** The q169 census tail over a scored (doc_id, source, t, r) frame —
    * ONE definition for batch q169 and the incremental snapshot's
    * re-merge (q178), so ingest-time and batch budget selection can
    * never drift. */
  private[graft] def budgetCensus(scored: DataFrame): DataFrame = {
    // materialize the scored frame ONCE (eager, memory+disk, lineage
    // cut): the budget machinery reads it from four subtrees (class
    // masses, the class join-back, kept aggs, source totals) and
    // without this each subtree re-tokenizes the corpus — cost-neutral
    // at sf0.1 (inside the host-noise band, warmed Bench --reps medians 2.42 vs
    // 2.44s), but at 100 TB it's one corpus scan + a ~32 B/doc narrow
    // frame instead of four corpus scans
    val perDoc = scored.localCheckpoint(true)
    val kept = budgetKept(perDoc, Nil, BudgetPct)
    val cut = kept.agg(min(col("r")).as("cut_score"))
    val totals = perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("total_docs"), sum(col("t")).as("total_tokens"))
    val keptAgg = kept.groupBy(col("source"))
      .agg(count(lit(1)).as("kept_docs"), sum(col("t")).as("kept_tokens"))
    totals.join(keptAgg, Seq("source"), "left")
      .withColumn("kept_docs", coalesce(col("kept_docs"), lit(0L)))
      .withColumn("kept_tokens", coalesce(col("kept_tokens"), lit(0L)))
      .crossJoin(broadcast(cut)) // 1-row stat cross (the repo's broadcast-stat idiom)
  }

  /** q169 oracle — the straight-line spelling: one global cumsum in
    * (r DESC, doc_id) order, keep while within budget. Parameterized
    * over the corpus relation for the q220 vacuum oracle. */
  def q169SqlFrom(from: String): String =
    s"""WITH ${scoredCteFrom(from)},
       |b AS (SELECT CAST(sum(t) AS BIGINT) * $BudgetPct // 100 AS budget
       |      FROM scored),
       |w AS (SELECT *, CAST(sum(t) OVER (ORDER BY r DESC, doc_id) AS BIGINT)
       |        AS cum FROM scored),
       |k AS (SELECT * FROM w WHERE cum <= (SELECT budget FROM b)),
       |t2 AS (SELECT source, count(*) AS total_docs,
       |              CAST(sum(t) AS BIGINT) AS total_tokens
       |       FROM scored GROUP BY 1),
       |k2 AS (SELECT source, count(*) AS kept_docs,
       |              CAST(sum(t) AS BIGINT) AS kept_tokens
       |       FROM k GROUP BY 1)
       |SELECT t2.source, total_docs, total_tokens,
       |       CAST(coalesce(kept_docs, 0) AS BIGINT) AS kept_docs,
       |       CAST(coalesce(kept_tokens, 0) AS BIGINT) AS kept_tokens,
       |       (SELECT min(r) FROM k) AS cut_score
       |FROM t2 LEFT JOIN k2 ON t2.source = k2.source""".stripMargin

  val q169Sql: String = q169SqlFrom("documents")

  /** Per-source token budgets (q170) — q169's fairness twin: each
    * SOURCE keeps its own best-quality prefix to [[BudgetPct]]% of its
    * OWN token mass, so the mixture's source shares survive the cut
    * (one global budget lets a single high-TTR source crowd out
    * everything else; per-source budgets are how a recipe like
    * q97/q136's holds its proportions through quality selection). The
    * census adds each source's realized quality cut — NULL when a
    * source kept nothing (its single best doc alone overflows the
    * budget), which the card must surface, not hide.
    *
    * Scale shape: [[budgetKept]] keyed by source — the class frame
    * grows to |sources|·1001 rows (still broadcast-sized), every
    * window gains the source key (so even the "global" prefix frames
    * of q169 become hash-keyed here), and the boundary-class machinery
    * runs once per source in parallel. Nothing is corpus-ordered.
    */
  def q170SourceBudget(s: SparkSession, dir: String): DataFrame =
    sourceBudgetCensus(ttrScored(s, dir))

  /** The q170 census tail over a scored (doc_id, source, t, r) frame —
    * ONE definition for batch q170 and the incremental snapshot's
    * re-merge (q183), the [[budgetCensus]] discipline keyed by
    * source. */
  private[graft] def sourceBudgetCensus(scored: DataFrame): DataFrame = {
    val perDoc = scored.localCheckpoint(true) // see q169
    val kept = budgetKept(perDoc, Seq("source"), BudgetPct)
    val cut = kept.groupBy(col("source")).agg(min(col("r")).as("cut_score"))
    val totals = perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("total_docs"), sum(col("t")).as("total_tokens"))
    val keptAgg = kept.groupBy(col("source"))
      .agg(count(lit(1)).as("kept_docs"), sum(col("t")).as("kept_tokens"))
    totals.join(keptAgg, Seq("source"), "left")
      .join(cut, Seq("source"), "left")
      .withColumn("kept_docs", coalesce(col("kept_docs"), lit(0L)))
      .withColumn("kept_tokens", coalesce(col("kept_tokens"), lit(0L)))
  }

  /** q170 oracle — one cumsum PER SOURCE, keep while within that
    * source's budget. */
  val q170Sql: String =
    s"""WITH $scoredCte,
       |b AS (SELECT source, CAST(sum(t) AS BIGINT) * $BudgetPct // 100
       |        AS budget FROM scored GROUP BY 1),
       |w AS (SELECT *, CAST(sum(t) OVER (PARTITION BY source
       |        ORDER BY r DESC, doc_id) AS BIGINT) AS cum FROM scored),
       |k AS (SELECT w.* FROM w JOIN b USING (source) WHERE cum <= budget),
       |t2 AS (SELECT source, count(*) AS total_docs,
       |              CAST(sum(t) AS BIGINT) AS total_tokens
       |       FROM scored GROUP BY 1),
       |k2 AS (SELECT source, count(*) AS kept_docs,
       |              CAST(sum(t) AS BIGINT) AS kept_tokens,
       |              min(r) AS cut_score
       |       FROM k GROUP BY 1)
       |SELECT t2.source, total_docs, total_tokens,
       |       CAST(coalesce(kept_docs, 0) AS BIGINT) AS kept_docs,
       |       CAST(coalesce(kept_tokens, 0) AS BIGINT) AS kept_tokens,
       |       cut_score
       |FROM t2 LEFT JOIN k2 ON t2.source = k2.source""".stripMargin
}
