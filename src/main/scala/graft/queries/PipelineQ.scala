package graft.queries

import graft.Tables
import graft.ops.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The COMPLETE training-data pipeline as one oracle-checked query —
  * the reason this engine exists: everything between a raw crawl and a
  * trainer's dataloader, composed from the already-verified stages and
  * hash-matched end-to-end against DuckDB (recursive CTEs included).
  *
  * Stages (each independently oracle-checked by its own qNN):
  *  1. quality triage (q22): keep bucket == "ok"
  *  2. exact dedup (q25): keep min doc_id per canonical fingerprint
  *  3. fuzzy dedup (q26→q44→q46): MinHash-LSH candidates → Jaccard
  *     verify → connected components → keep cluster canonicals
  *  4. stratified sampling (q48): deterministic md5 cut
  *  5. sequence packing (q47): concatenate-per-source, chunk by token
  *     budget
  * Output: the per-(source, bin) shard manifest a dataloader consumes.
  *
  * Scale review, stage by stage: (1) scan-side predicate; (2) one
  * hash-agg on the 16-byte fingerprint + semi-join back (text never
  * shuffles); (3) the verified ladder shapes (see PLANS.md q44→q46) on
  * the SURVIVOR set, so every upstream filter shrinks the expensive
  * stage; (4) scan-side predicate; (5) one window per source. The
  * composition adds NO new shuffle beyond the stages' own.
  */
object PipelineQ {

  def q50TrainingManifest(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)

    // 1. quality triage — stage toks once, reuse through the pipeline
    val quality = docs
      .withColumn("toks", TextOps.tokens(col("text")))
      .filter(TextOps.qualityBucket(col("toks"), col("n_chars")) === "ok")

    // 2. exact dedup: min doc_id per canonical fingerprint, realized
    // as a semi-join on (fp, doc_id) — only 16-byte keys aggregate.
    // The survivor set feeds three consumers; deliberately NOT
    // persisted — measured at sf0.1, caching these wide rows (text +
    // staged token arrays) costs more than recomputing the codegen
    // scan (7.6s cached vs 5.1s recomputed).
    val fp = quality.withColumn("fp", TextOps.fingerprint(col("text")))
    val exact = fp.join(
      fp.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id")),
      Seq("fp", "doc_id"), "left_semi")

    // 3. fuzzy dedup on the survivors: drop non-canonical cluster
    // members. Clustering is the O(log n) star contraction (q55's
    // engine) — same min-id fixpoint as propagation (both pass the
    // q46 recursive-CTE oracle), but bounded rounds on adversarial
    // chain components, which is what the composed pipeline should
    // ship at 100 TB (measured faster from the 1M-pair stress tier
    // up, see PLANS.md).
    val verified = Dedup.verifiedEdges(exact)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    val dropped = graft.ops.ConnectedComponents.assign(verified)
      .filter(col("component") =!= col("node"))
      .select(col("node").as("doc_id"))
    val kept = exact.join(dropped, Seq("doc_id"), "left_anti")

    // 4. deterministic stratified sample (THE q48 hash — shared helper)
    val sampled = kept.filter(
      Text.sampleHashByte(col("doc_id")) < Text.SampleCut)

    // 5. sequence packing (THE q47 kernel — shared helper) → manifest
    Text.packManifest(sampled.select(col("source"), col("doc_id"),
      size(col("toks")).cast("long").as("n_toks")))
  }

  val q50Sql: String = {
    val toks = "str_split(text, ' ')"
    val stop = s"len(list_filter($toks, t -> t IN ('the','and','of','to','a')))"
    val canonical = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"
    s"""WITH RECURSIVE quality AS (
       |  SELECT source, doc_id, text
       |  FROM documents
       |  WHERE CASE WHEN len($toks) < 10 OR n_chars < 50 THEN 'too_short'
       |             WHEN ($stop * 100) // len($toks) > 30 THEN 'high_stopword'
       |             WHEN (len(list_distinct($toks)) * 100) // len($toks) < 30
       |               THEN 'repetitive'
       |             ELSE 'ok' END = 'ok'),
       |exact AS (
       |  SELECT source, doc_id, text FROM quality
       |  QUALIFY row_number() OVER (PARTITION BY $canonical ORDER BY doc_id) = 1),
       |${Dedup.verifiedPairsSqlCtes("exact")},
       |${Dedup.clustersSqlCtes},
       |kept AS (
       |  SELECT e.* FROM exact e
       |  WHERE doc_id NOT IN
       |    (SELECT doc_id FROM clustered WHERE cluster_id <> doc_id)),
       |sampled AS (
       |  SELECT * FROM kept
       |  WHERE ${Text.sampleSqlPredicate}),
       |${Text.packSqlTail("sampled")}""".stripMargin
  }

  /** The CURATION pipeline as one oracle-checked query (q84) — q50's
    * companion for the compliance-and-recipe side of corpus prep:
    *  1. PII scrub (q76's redactPii) — here a rewrite pass whose
    *     token counts feed packing, so scrubbing is ON the data path,
    *     not a side census
    *  2. train/val/test split assignment (q77's salted cut)
    *  3. per-source mixing rates (q54's recipe map cut)
    *  4. sequence packing per (split, source) — the shard manifest a
    *     dataloader reads for ONE split without touching the others
    *
    * Scale review: stages 1-3 are scan-side codegen (regex rewrite +
    * two md5 bytes + the literal recipe map); packing is one window
    * shuffle on (split, source) whose aggregation reuses the same
    * partitioning. The whole pipeline is ONE exchange.
    */
  def q84CurationManifest(s: SparkSession, dir: String): DataFrame = {
    val curated = Tables.documents(s, dir)
      .withColumn("clean", Text.redactPii(col("text")))
      .withColumn("split", Text.splitLabel(col("doc_id")))
      .filter(Text.sampleHashByte(col("doc_id")) <
        coalesce(element_at(typedLit(Text.MixCuts), col("source")),
          lit(Text.MixDefaultCut)))
    Text.packManifest(
      curated.select(col("split"), col("source"), col("doc_id"),
        size(TextOps.tokens(col("clean"))).cast("long").as("n_toks")),
      keys = Seq("split", "source"))
  }

  val q84Sql: String =
    s"""WITH curated AS (
       |  SELECT source, doc_id,
       |    regexp_replace(regexp_replace(text, '${Text.EmailRe}', '<EMAIL>', 'g'),
       |                   '${Text.Ipv4Re}', '<IP>', 'g') AS clean,
       |    ${Text.splitLabelSql} AS split
       |  FROM documents
       |  WHERE ${Text.sampleHashSql} < ${Text.mixCutCaseSql}),
       |binned AS (
       |  SELECT split, source, doc_id, len(str_split(clean, ' ')) AS n_toks,
       |         CAST(coalesce(sum(len(str_split(clean, ' '))) OVER (
       |             PARTITION BY split, source ORDER BY doc_id
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           // ${Text.PackBudget} AS BIGINT) AS bin_id
       |  FROM curated)
       |SELECT split, source, bin_id, count(*) AS doc_count,
       |       CAST(sum(n_toks) AS BIGINT) AS bin_tokens,
       |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM binned GROUP BY 1, 2, 3""".stripMargin

  /** Post-dedup mixture weights (q98) — the composition a real
    * pipeline must run but naive ones forget: near-dup removal (q96's
    * retention policy) CHANGES the per-source token mass, so the
    * temperature-scaled sampling weights (q97) must be recomputed over
    * the surviving docs, not the raw corpus. A source whose volume was
    * mostly self-duplicated crawl shrinks toward its true share; its
    * mixture weight follows.
    *
    * The survivor cut is an anti-join of the corpus scan q97 runs
    * anyway against the demoted-id set, SIZE-GATED (the
    * contaminationAuto pattern): on a typical corpus demoted ids are a
    * tiny fraction and broadcast; on a boilerplate-saturated crawl —
    * graft.Scale's replication makes demoted ≈ (R−1)/R of ALL
    * doc_ids — an unconditional broadcast hint would bypass the
    * planner's threshold and blow the driver, so above the gate the
    * anti-join degrades to the shuffle that is correct there.
    * Everything downstream of the token agg is O(sources).
    *
    * The demoted frame is localCheckpointed (the ConnectedComponents
    * discipline — NOT persist: a CacheManager entry would outlive the
    * call, and a bench rerun would silently time a cache hit instead
    * of the ladder) so the gate's count and the anti-join share one
    * ladder execution, and the storage is GC-reclaimed with the frame. */
  /** Post-dedup survivor set — the q96 retention policy applied:
    * every doc except non-representative cluster members, with the
    * size-gated broadcast of the demoted id set. ONE definition shared
    * by q98 (mixture re-weight) and q133 (curriculum manifest), so
    * "what survives dedup" can never drift between the compositions. */
  def dedupSurvivors(docs: DataFrame,
      maxBroadcastDemoted: Long = 10L * 1000 * 1000): DataFrame = {
    val demoted = Dedup.rankedMembers(docs)
      .filter(col("rn") =!= 1).select(col("doc_id")).localCheckpoint()
    val cut =
      if (demoted.count() <= maxBroadcastDemoted) broadcast(demoted) else demoted
    docs.join(cut, Seq("doc_id"), "left_anti")
  }

  def q98DedupedMixture(s: SparkSession, dir: String, tau: Double = 0.7,
                        maxBroadcastDemoted: Long = 10L * 1000 * 1000)
      : DataFrame =
    Text.mixtureWeightsFrom(Text.sourceTokenTotals(
      dedupSurvivors(Tables.documents(s, dir), maxBroadcastDemoted)), tau)
  val q98Sql: String =
    s"""WITH RECURSIVE ${Dedup.verifiedPairsSqlCtes("documents")},
       |${Dedup.clustersSqlCtes},
       |${Dedup.rankedSqlCtes},
       |demoted AS (SELECT doc_id FROM ranked WHERE rn <> 1),
       |per AS (
       |  SELECT source, CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS tokens
       |  FROM documents d LEFT JOIN demoted x USING (doc_id)
       |  WHERE x.doc_id IS NULL GROUP BY 1),
       |q AS (SELECT source, tokens,
       |        CAST(floor(pow(CAST(tokens AS DOUBLE), 0.7) * 1000) AS BIGINT) AS q
       |      FROM per),
       |tot AS (SELECT CAST(sum(q) AS BIGINT) AS qtot FROM q)
       |SELECT source, tokens, q * 1000000 // qtot AS mix_millionths
       |FROM q, tot""".stripMargin

  /** Curriculum-ordered shard manifest (q133) — the last composition
    * before a dataloader: dedup survivors ([[dedupSurvivors]], the
    * q96 retention policy) are scored with the q127 integer TTR
    * permille, cut into global ntile deciles (easy → hard), and
    * packed WITHIN each decile into [[Text.PackBudget]]-token shards
    * (the q47 prefix-sum machinery keyed by decile instead of
    * source). The output is the manifest a curriculum scheduler
    * consumes: shards grouped by difficulty tier, each tier's shards
    * internally deterministic.
    *
    * Scale review: the dedup ladder runs once on the corpus (its own
    * audited shapes); scoring is scan-side; the decile ntile is the
    * q127 global sort (the documented 100 TB flip: approx edges as a
    * CASE cut); packing adds one window per decile partition — ten
    * bounded partitions, no corpus-scale single-task window.
    */
  def q133CurriculumManifest(s: SparkSession, dir: String): DataFrame = {
    val scored = dedupSurvivors(Tables.documents(s, dir))
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_toks"),
        size(array_distinct(TextOps.tokens(col("text")))).cast("long")
          .as("types"))
      .withColumn("score_pm", expr("types * 1000 div n_toks"))
      .withColumn("decile",
        ntile(10).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score_pm"), col("doc_id"))))
    Text.packManifest(
      scored.select(col("decile"), col("doc_id"), col("n_toks")),
      keys = Seq("decile"))
  }
  val q133Sql: String =
    s"""WITH RECURSIVE ${Dedup.verifiedPairsSqlCtes("documents")},
       |${Dedup.clustersSqlCtes},
       |${Dedup.rankedSqlCtes},
       |demoted AS (SELECT doc_id FROM ranked WHERE rn <> 1),
       |surv AS (
       |  SELECT d.doc_id, str_split(d.text, ' ') AS toks
       |  FROM documents d LEFT JOIN demoted x USING (doc_id)
       |  WHERE x.doc_id IS NULL),
       |curscore AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
       |         CAST(len(list_distinct(toks)) AS BIGINT) AS types
       |  FROM surv),
       |cut AS (
       |  SELECT doc_id, n_toks,
       |         ntile(10) OVER (ORDER BY types * 1000 // n_toks, doc_id)
       |           AS decile
       |  FROM curscore),
       |binned AS (
       |  SELECT decile, doc_id, n_toks,
       |         CAST(coalesce(sum(n_toks) OVER (
       |             PARTITION BY decile ORDER BY doc_id
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           // ${Text.PackBudget} AS BIGINT) AS bin_id
       |  FROM cut)
       |SELECT decile, bin_id, count(*) AS doc_count,
       |       CAST(sum(n_toks) AS BIGINT) AS bin_tokens,
       |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM binned GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------ dataset card (q149)

  /** Dataset datasheet (q149): the one-row "datasheet for datasets"
    * manifest a corpus release ships — size (docs, tokens), diversity
    * (sources, langs), integrity (exact-dup ppm, near-dup edge and
    * doc counts from the verified ladder, cross-split leaked
    * fingerprints), split sizes (the q77 cut), and a corpus quality
    * summary (mean TTR permille). Every number is a composition of
    * the registry's own shared definitions — fingerprint, split
    * label, verified edges — so the card can never disagree with the
    * queries it summarizes.
    *
    * Scale shape: one corpus scan feeds the base aggregate (counts,
    * token mass, split sizes — conditional aggs, no distinct); each
    * count-distinct member is its OWN small aggregate (fusing them
    * would trigger the q37 distinct-rewrite Expand, multiplying the
    * corpus scan per distinct column); the near-dup members ride the
    * shared LSH ladder. All members collapse to one row and
    * broadcast-cross (whitelisted in PlanSpec) — nothing corpus-sized
    * joins anything.
    */
  /** The card's scan aggregate — size, token mass, TTR sum, split
    * sizes — over any documents frame. Every member is SUM-mergeable,
    * which is what lets the q207 ingest twin land this as a 1-row
    * partial per micro-batch and re-sum. */
  def cardBase(docs: DataFrame): DataFrame = docs.agg(
    count(lit(1)).as("docs"),
    sum(size(TextOps.tokens(col("text"))).cast("long")).as("tokens"),
    sum(expr("size(array_distinct(split(text, ' '))) * 1000" +
      " div size(split(text, ' '))").cast("long")).as("ttr_sum"),
    count(when(Text.splitLabel(col("doc_id")) === "train", 1)).as("train_docs"),
    count(when(Text.splitLabel(col("doc_id")) === "val", 1)).as("val_docs"),
    count(when(Text.splitLabel(col("doc_id")) === "test", 1)).as("test_docs"))

  /** The fp/leak and near-dup censuses + the compose tail, shared by
    * q149 and the q207 ingest twin so the card arithmetic can never
    * drift between them. `fps` is the distinct-tolerant (fp, split)
    * manifest; `edges` the verified near-dup edge list. */
  def cardTail(base: DataFrame, sources: DataFrame, langs: DataFrame,
               fps: DataFrame, edges: DataFrame): DataFrame = {
    val dfp = fps.select(col("fp")).distinct()
      .agg(count(lit(1)).as("distinct_fps"))
    val leaks = fps.distinct().groupBy(col("fp"))
      .agg(count(lit(1)).as("ns")).filter(col("ns") > 1)
      .agg(count(lit(1)).as("leaked_fps"))
    val epairs = edges.agg(count(lit(1)).as("neardup_edges"))
    val edocs = edges
      .select(explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .distinct().agg(count(lit(1)).as("neardup_docs"))
    base.crossJoin(broadcast(sources)).crossJoin(broadcast(langs))
      .crossJoin(broadcast(dfp)).crossJoin(broadcast(leaks))
      .crossJoin(broadcast(epairs)).crossJoin(broadcast(edocs))
      .withColumn("exact_dup_ppm",
        expr("(docs - distinct_fps) * 1000000 div docs"))
      .withColumn("mean_ttr_pm", expr("ttr_sum div docs"))
      .drop("ttr_sum")
  }

  def q149DatasetCard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    cardTail(
      cardBase(docs),
      docs.select(col("source")).distinct().agg(count(lit(1)).as("sources")),
      docs.select(col("lang")).distinct().agg(count(lit(1)).as("langs")),
      docs.select(TextOps.fingerprint(col("text")).as("fp"),
        Text.splitLabel(col("doc_id")).as("split")),
      Dedup.verifiedEdges(docs))
  }
  val q149Sql: String = {
    val canonical = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"
    s"""WITH base AS (
       |  SELECT count(*) AS docs,
       |         CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS tokens,
       |         CAST(sum(len(list_distinct(str_split(text, ' '))) * 1000
       |                   // len(str_split(text, ' '))) AS BIGINT) AS ttr_sum,
       |         count(CASE WHEN (${Text.splitLabelSql}) = 'train' THEN 1 END)
       |           AS train_docs,
       |         count(CASE WHEN (${Text.splitLabelSql}) = 'val' THEN 1 END)
       |           AS val_docs,
       |         count(CASE WHEN (${Text.splitLabelSql}) = 'test' THEN 1 END)
       |           AS test_docs
       |  FROM documents),
       |src AS (SELECT count(DISTINCT source) AS sources FROM documents),
       |lg AS (SELECT count(DISTINCT lang) AS langs FROM documents),
       |fps AS (SELECT $canonical AS fp, (${Text.splitLabelSql}) AS split
       |        FROM documents),
       |dfp AS (SELECT count(DISTINCT fp) AS distinct_fps FROM fps),
       |lk AS (SELECT count(*) AS leaked_fps
       |       FROM (SELECT fp FROM (SELECT DISTINCT fp, split FROM fps)
       |             GROUP BY fp HAVING count(*) > 1)),
       |${Dedup.verifiedPairsSqlCtes("documents")},
       |ep AS (SELECT count(*) AS neardup_edges
       |       FROM scored WHERE jaccard >= 0.5),
       |ed AS (SELECT count(DISTINCT d) AS neardup_docs
       |       FROM (SELECT unnest([doc_a, doc_b]) AS d
       |             FROM scored WHERE jaccard >= 0.5))
       |SELECT docs, tokens, sources, langs, distinct_fps, leaked_fps,
       |       neardup_edges, neardup_docs, train_docs, val_docs, test_docs,
       |       (docs - distinct_fps) * 1000000 // docs AS exact_dup_ppm,
       |       ttr_sum // docs AS mean_ttr_pm
       |FROM base, src, lg, dfp, lk, ep, ed""".stripMargin
  }

  /** Snapshot diff (q197) — the dataset-versioning census: what
    * changed between crawl N and crawl N+1. Two deterministic
    * snapshots derive from the corpus (A drops doc_id%10==0, B drops
    * %10==1 and RE-CRAWLS %7==0 pages with a " v2" suffix — planted
    * churn so every class fires); each is reduced to its fingerprint
    * MANIFEST (doc_id, source, canonical md5 — the q149 convention),
    * the manifests full-outer join on doc_id, and each doc classifies
    * as added (B only) / removed (A only) / modified (both, fp
    * differs) / unchanged. Census per source.
    *
    * Scale shape: the diff joins two (doc_id, fp) MANIFESTS — ~48
    * bytes/row — never texts; full-outer on doc_id is the lake's
    * natural bucketing key (zero-exchange SMJ under ScaleSpec's
    * layout), classification is scan-side arithmetic, census is
    * O(sources). This is the operator a 100 TB lake runs nightly to
    * answer "what did the new crawl actually change". */
  /** Snapshot A's fingerprint manifest (crawl N). */
  def snapshotAManifest(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), col("source").as("source_a"),
        TextOps.fingerprint(col("text")).as("fp_a"))

  /** Snapshot B's DOCUMENT rows (crawl N+1 — the simulated re-crawl:
    * %10==1 pages gone, %7==0 pages re-crawled with new content).
    * The q198 ingest twin streams exactly this frame; its monitor
    * reduces each arriving batch to manifest rows scan-side. */
  def snapshotBDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 1)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))

  /** The diff tail shared by q197 and its ingest twin q198: full-outer
    * manifest join on doc_id, per-doc classification, per-source
    * census. */
  def diffCensus(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b, Seq("doc_id"), "full_outer")
      .select(coalesce(col("source_a"), col("source_b")).as("source"),
        when(col("fp_a").isNull, "added")
          .when(col("fp_b").isNull, "removed")
          .when(col("fp_a") === col("fp_b"), "unchanged")
          .otherwise("modified").as("change"))
      .groupBy(col("source"))
      .agg(sum(when(col("change") === "added", 1L).otherwise(0L)).as("added"),
        sum(when(col("change") === "removed", 1L).otherwise(0L))
          .as("removed"),
        sum(when(col("change") === "modified", 1L).otherwise(0L))
          .as("modified"),
        sum(when(col("change") === "unchanged", 1L).otherwise(0L))
          .as("unchanged"))

  def q197SnapshotDiff(s: SparkSession, dir: String): DataFrame =
    diffCensus(snapshotAManifest(s, dir),
      snapshotBDocs(s, dir)
        .select(col("doc_id"), col("source").as("source_b"),
          TextOps.fingerprint(col("text")).as("fp_b")))
  val q197Sql: String = {
    def canon(e: String) =
      s"md5(regexp_replace(lower(trim($e)), '\\s+', ' ', 'g'))"
    s"""WITH a AS (
       |  SELECT doc_id, source, ${canon("text")} AS fp
       |  FROM documents WHERE doc_id % 10 <> 0),
       |b AS (
       |  SELECT doc_id, source,
       |         ${canon("CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END")} AS fp
       |  FROM documents WHERE doc_id % 10 <> 1),
       |d AS (
       |  SELECT coalesce(a.source, b.source) AS source,
       |         CASE WHEN a.fp IS NULL THEN 'added'
       |              WHEN b.fp IS NULL THEN 'removed'
       |              WHEN a.fp = b.fp THEN 'unchanged'
       |              ELSE 'modified' END AS change
       |  FROM a FULL OUTER JOIN b USING (doc_id))
       |SELECT source,
       |       CAST(sum(CASE WHEN change = 'added' THEN 1 ELSE 0 END)
       |         AS BIGINT) AS added,
       |       CAST(sum(CASE WHEN change = 'removed' THEN 1 ELSE 0 END)
       |         AS BIGINT) AS removed,
       |       CAST(sum(CASE WHEN change = 'modified' THEN 1 ELSE 0 END)
       |         AS BIGINT) AS modified,
       |       CAST(sum(CASE WHEN change = 'unchanged' THEN 1 ELSE 0 END)
       |         AS BIGINT) AS unchanged
       |FROM d GROUP BY 1""".stripMargin
  }

  /** The write-path gate (q208) — the governance family composed as
    * ONE front door for an arriving crawl shard, the way q50 composes
    * the curation stages: PII is REDACTED first (scrub, not drop —
    * q76's planted corpus gives the stage real mass), the redacted
    * text is quality-triaged (q22's bucket), survivors are screened
    * against the benchmark shingle set (q49's kernel), and what lands
    * is COMMITTED to with the q200 xor root — so the census row per
    * source answers, in one pass: what arrived, what was scrubbed,
    * what was quarantined and why, what landed, and the integrity
    * commitment of exactly the landed bytes. Quarantine precedence is
    * quality-first (a low-quality contaminated doc counts as quality —
    * one verdict per doc, the census partitions).
    *
    * Scale shape: one corpus scan stages tokens once and every stage
    * is scan-side (regex redaction, MarkerCount bucket, binary-search
    * contamination against the broadcast bench row, md5 root); the
    * only shuffle is the final O(sources) census agg, and the only
    * broadcast is the one-row bench (whitelisted cross). The gate adds
    * NO cost beyond the scan ingest already pays. */
  /** The gate's scan stages (plant → count → redact → tokenize →
    * triage), shared by q208, its bench pull, and the q209 ingest
    * partials so no stage can drift between spellings. */
  def gateStaged(docs: DataFrame): DataFrame =
    docs.withColumn("t2", Text.plantedPii)
      .withColumn("emails", regexp_count(col("t2"), lit(Text.EmailRe)))
      .withColumn("ips", regexp_count(col("t2"), lit(Text.Ipv4Re)))
      .withColumn("tc", Text.redactPii(col("t2")))
      .withColumn("toks", TextOps.tokens(col("tc")))
      .withColumn("quality",
        TextOps.qualityBucket(col("toks"), length(col("tc"))))

  /** The benchmark shingle row over the gate's REDACTED bench docs. */
  def gateBench(docs: DataFrame): DataFrame = {
    import graft.functions.NGramSetFunctions.ngram_set
    gateStaged(docs).filter(col("doc_id") < 20 && size(col("toks")) >= 3)
      .agg(array_sort(array_distinct(flatten(collect_list(
        ngram_set(col("toks"), 3))))).as("bench_sh"))
  }

  /** [[gateBench]] pulled to the driver for the q209 ingest gate —
    * size-GATED like [[Text.benchShingleArray]]: a pre-count job
    * (benchmark-bounded) refuses past the plan-literal bound, where
    * the screen stage takes q56's per-batch shuffle spelling
    * instead. */
  def gateBenchArray(s: SparkSession, dir: String,
                     maxBroadcastShingles: Long = 10L * 1000 * 1000)
      : Seq[String] = {
    import graft.functions.NGramSetFunctions.ngram_set
    val docs = Tables.documents(s, dir)
    // ONE staging scan: the distinct-shingle frame is persisted across
    // the size-gate count and the driver pull (the count materializes
    // the cache; the pull reads it), keeping the refuse-BEFORE-pull
    // ordering without paying the full gate staging twice per ingest
    // start. The count is benchmark-bounded, so the cached frame is
    // exactly the thing the gate bounds.
    val sh = gateStaged(docs)
      .filter(col("doc_id") < 20 && size(col("toks")) >= 3)
      .select(explode(ngram_set(col("toks"), 3)).as("sh"))
      .distinct().persist()
    try {
      val n = sh.count()
      require(n <= maxBroadcastShingles,
        s"gate benchmark has $n distinct shingles — past the" +
          s" $maxBroadcastShingles plan-literal bound; screen with q56's" +
          " shuffle-join spelling per batch instead of a driver pull")
      sh.agg(array_sort(collect_list(col("sh")))).head().getSeq[String](0)
    } finally { sh.unpersist(); () }
  }

  /** Verdict + census over a staged CORPUS frame (doc_id ≥ 20 already
    * applied) against a bench shingle column — the one census both
    * the batch gate and the q209 ingest partials run; the xor member
    * is a valid PARTIAL (xor of per-batch xors = corpus xor). */
  def gateCensus(corpusStaged: DataFrame,
                 benchSh: org.apache.spark.sql.Column): DataFrame = {
    import graft.functions.NGramSetFunctions.{ngram_set, sorted_member_count}
    corpusStaged
      .withColumn("n_overlap", when(size(col("toks")) >= 3,
        sorted_member_count(ngram_set(col("toks"), 3), benchSh))
        .otherwise(lit(0)))
      .withColumn("verdict",
        when(col("quality") =!= "ok", "quarantined_quality")
          .when(col("n_overlap") > 0, "quarantined_contaminated")
          .otherwise("landed"))
      .withColumn("h", conv(substring(md5(concat(
        col("doc_id").cast("string"), lit(":"), col("tc"))), 1, 15), 16, 10)
        .cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs_in"),
        sum(col("emails")).cast("long").as("emails_redacted"),
        sum(col("ips")).cast("long").as("ips_redacted"),
        sum(when(col("verdict") === "quarantined_quality", 1L).otherwise(0L))
          .as("quarantined_quality"),
        sum(when(col("verdict") === "quarantined_contaminated", 1L)
          .otherwise(0L)).as("quarantined_contaminated"),
        sum(when(col("verdict") === "landed", 1L).otherwise(0L))
          .as("landed_docs"),
        expr("bit_xor(CASE WHEN verdict = 'landed' THEN h END)")
          .as("landed_xor_root"))
  }

  def q208WritePathGate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    gateCensus(
      gateStaged(docs).filter(col("doc_id") >= 20)
        .crossJoin(broadcast(gateBench(docs))),
      col("bench_sh"))
  }
  val q208Sql: String = {
    val toks = "str_split(tc, ' ')"
    val stop = "len(list_filter(str_split(tc, ' '), t -> t IN " +
      "('the','and','of','to','a')))"
    s"""WITH p AS (
       |  SELECT doc_id, source, ${Text.plantedPiiSql} AS t2 FROM documents),
       |r AS (
       |  SELECT doc_id, source,
       |    len(regexp_extract_all(t2, '${Text.EmailRe}')) AS emails,
       |    len(regexp_extract_all(t2, '${Text.Ipv4Re}')) AS ips,
       |    regexp_replace(regexp_replace(t2, '${Text.EmailRe}', '<EMAIL>', 'g'),
       |                   '${Text.Ipv4Re}', '<IP>', 'g') AS tc
       |  FROM p),
       |q AS (
       |  SELECT *,
       |    CASE WHEN len($toks) < 10 OR len(tc) < 50 THEN 'too_short'
       |         WHEN ($stop * 100) // len($toks) > 30 THEN 'high_stopword'
       |         WHEN (len(list_distinct($toks)) * 100) // len($toks) < 30
       |           THEN 'repetitive'
       |         ELSE 'ok' END AS quality,
       |    CASE WHEN len($toks) >= 3 THEN
       |      list_distinct(list_transform(range(1, len($toks) - 1),
       |        i -> array_to_string(list_slice($toks, i, i + 2), ' ')))
       |      ELSE CAST([] AS VARCHAR[]) END AS shset
       |  FROM r),
       |bench AS (
       |  SELECT list_distinct(flatten(list(shset))) AS bench_sh FROM q
       |  WHERE doc_id < 20 AND len($toks) >= 3),
       |v AS (
       |  SELECT q.*,
       |    CASE WHEN quality <> 'ok' THEN 'quarantined_quality'
       |         WHEN len(list_intersect(shset, bench_sh)) > 0
       |           THEN 'quarantined_contaminated'
       |         ELSE 'landed' END AS verdict
       |  FROM q, bench WHERE doc_id >= 20)
       |SELECT source, count(*) AS docs_in,
       |       CAST(sum(emails) AS BIGINT) AS emails_redacted,
       |       CAST(sum(ips) AS BIGINT) AS ips_redacted,
       |       CAST(sum(CASE WHEN verdict = 'quarantined_quality'
       |         THEN 1 ELSE 0 END) AS BIGINT) AS quarantined_quality,
       |       CAST(sum(CASE WHEN verdict = 'quarantined_contaminated'
       |         THEN 1 ELSE 0 END) AS BIGINT) AS quarantined_contaminated,
       |       CAST(sum(CASE WHEN verdict = 'landed' THEN 1 ELSE 0 END)
       |         AS BIGINT) AS landed_docs,
       |       bit_xor(CASE WHEN verdict = 'landed'
       |         THEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
       |           || ':' || tc), 1, 15) AS BIGINT) END) AS landed_xor_root
       |FROM v GROUP BY 1""".stripMargin
  }

  /** Content-integrity roots (q200) — the tamper/corruption audit that
    * complements the q197 diff: q197 tells you WHAT changed between
    * snapshots; q200 gives each source a constant-size commitment so
    * "did anything change / did a replica drift" is an O(sources)
    * comparison, not a re-diff. Every doc contributes a 60-bit
    * keyed content hash h = md5(doc_id ‖ ':' ‖ text) (doc_id in the
    * preimage so content swapped BETWEEN docs — same multiset of
    * texts — still flips the root), and the per-source roots fold
    * h with ORDER-INDEPENDENT combiners: bit_xor and an exact
    * decimal(38) sum folded mod 2⁶¹−1 back into a 64-bit lane (two
    * independent algebras + an independently-salted second xor, so a
    * collision must fool all three at once).
    *
    * Scale shape: this is the q149 datasheet's discipline applied to
    * integrity — one corpus scan, hash computed scan-side, then a
    * plain hash-agg on (source); the combiners are commutative and
    * associative, so map-side partials shrink every partition to one
    * row per source before the shuffle and the roots merge across
    * files/batches/replicas without any ordering contract (a Merkle
    * tree's sort-by-leaf step is exactly what does NOT survive a
    * 1000-executor scan order). The decimal(38) sum cannot overflow
    * below ~10^19 docs/source. Verification of a 100 TB lake = re-scan
    * + compare O(sources) rows. */
  /** The roots themselves, over any (source, doc_id, text) frame —
    * factored so the spec can feed tampered/permuted corpora. */
  def integrityRoots(docs: DataFrame): DataFrame = {
    def root(salt: String): org.apache.spark.sql.Column =
      conv(substring(md5(concat(lit(salt), col("doc_id").cast("string"),
        lit(":"), col("text"))), 1, 15), 16, 10).cast("long")
    docs
      .select(col("source"), root("").as("h1"), root("b:").as("h2"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        expr("bit_xor(h1)").as("xor_root"),
        expr("CAST(sum(CAST(h1 AS DECIMAL(38,0))) % 2305843009213693951L " +
          "AS BIGINT)").as("sum_root"),
        expr("bit_xor(h2)").as("xor_root_b"))
  }

  /** The ONE merge of per-source root partials (ingest batches, scan
    * shards, replicas — any fan-out): xor of xors, (Σ sᵢ mod p) mod p.
    * Shared by the q203 snapshot and graft.Scale's q200 monoid law so
    * the fold algebra lives in exactly one place beside its SQL
    * spelling. */
  def mergeRootPartials(partials: DataFrame): DataFrame =
    partials.groupBy(col("source"))
      .agg(sum(col("docs")).as("docs"),
        expr("bit_xor(xor_root)").as("xor_root"),
        expr("CAST(sum(CAST(sum_root AS DECIMAL(38,0))) % " +
          "2305843009213693951L AS BIGINT)").as("sum_root"),
        expr("bit_xor(xor_root_b)").as("xor_root_b"))

  def q200IntegrityRoots(s: SparkSession, dir: String): DataFrame =
    integrityRoots(Tables.documents(s, dir))
  val q200Sql: String = {
    def h(salt: String) =
      s"CAST('0x' || substr(md5('$salt' || CAST(doc_id AS VARCHAR) || " +
        "':' || text), 1, 15) AS BIGINT)"
    s"""WITH r AS (
       |  SELECT source, ${h("")} AS h1, ${h("b:")} AS h2 FROM documents)
       |SELECT source, count(*) AS docs,
       |       bit_xor(h1) AS xor_root,
       |       CAST(sum(CAST(h1 AS HUGEINT)) % 2305843009213693951
       |         AS BIGINT) AS sum_root,
       |       bit_xor(h2) AS xor_root_b
       |FROM r GROUP BY 1""".stripMargin
  }
}
