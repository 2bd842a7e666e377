package graft.queries

import graft.Tables
import graft.ops.{Shapes, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis queries over the documents corpus (BASELINE.json
  * north-star extensions): stats, language-ID, quality scoring, token
  * counting, fingerprinting. All single-scan, single-shuffle plans.
  */
object Text {

  /** Per-language corpus stats: doc count, avg chars, avg tokens. */
  def q20DocStats(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("lang"), col("n_chars"),
        size(TextOps.tokens(col("text"))).as("n_toks"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("doc_count"),
        round(avg(col("n_chars")), 2).as("avg_chars"),
        round(avg(col("n_toks")), 2).as("avg_tokens"),
        max(col("n_toks")).as("max_tokens"))
  }
  val q20Sql: String =
    """SELECT lang, count(*) AS doc_count,
      |       round(avg(n_chars), 2) AS avg_chars,
      |       round(avg(len(str_split(text, ' '))), 2) AS avg_tokens,
      |       max(len(str_split(text, ' '))) AS max_tokens
      |FROM documents GROUP BY 1""".stripMargin

  /** Language-ID (marker-word votes) cross-tabbed against the labeled
    * lang column — the standard confusion-matrix check. */
  def q21LangId(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("predicted_lang", TextOps.langId(TextOps.tokens(col("text"))))
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("doc_count"))
  }
  val q21Sql: String = {
    def cnt(markers: Seq[String]): String =
      "len(list_filter(str_split(text, ' '), t -> t IN (" +
        markers.map(m => s"'$m'").mkString(",") + ")))"
    val (en, de, fr, es) = (cnt(TextOps.enMarkers), cnt(TextOps.deMarkers),
      cnt(TextOps.frMarkers), cnt(TextOps.esMarkers))
    s"""SELECT lang,
       |  CASE WHEN $en >= $de AND $en >= $fr AND $en >= $es AND $en > 0 THEN 'en'
       |       WHEN $de >= $fr AND $de >= $es AND $de > 0 THEN 'de'
       |       WHEN $fr >= $es AND $fr > 0 THEN 'fr'
       |       WHEN $es > 0 THEN 'es'
       |       ELSE 'unknown' END AS predicted_lang,
       |  count(*) AS doc_count
       |FROM documents GROUP BY 1, 2""".stripMargin
  }

  /** Quality triage buckets (length / stopword ratio / repetitiveness)
    * — integer-percent heuristics, exactly reproducible in SQL. */
  def q22QualityBuckets(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("quality",
        TextOps.qualityBucket(TextOps.tokens(col("text")), col("n_chars")))
      .groupBy(col("source"), col("quality"))
      .agg(count(lit(1)).as("doc_count"))
  }
  /** The q22 bucket CASE as DuckDB SQL — shared by every oracle that
    * slices by quality (q22, q112) so the recipe cannot drift. */
  val qualityBucketSql: String = {
    val toks = "str_split(text, ' ')"
    val stop = "len(list_filter(str_split(text, ' '), t -> t IN " +
      "('the','and','of','to','a')))"
    s"""CASE WHEN len($toks) < 10 OR n_chars < 50 THEN 'too_short'
       |     WHEN ($stop * 100) // len($toks) > 30 THEN 'high_stopword'
       |     WHEN (len(list_distinct($toks)) * 100) // len($toks) < 30 THEN 'repetitive'
       |     ELSE 'ok' END""".stripMargin
  }
  val q22Sql: String =
    s"""SELECT source,
       |  $qualityBucketSql AS quality,
       |  count(*) AS doc_count
       |FROM documents GROUP BY 1, 2""".stripMargin

  /** Global token frequency top-20 (explode → count → TakeOrdered). */
  def q23TokenFreq(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .transform(d => Shapes.groupCount(d, Seq("token"), "freq"))
      .transform(d => Shapes.topK(d, 20, col("freq").desc, col("token").asc))
  }
  val q23Sql: String =
    """SELECT tok AS token, count(*) AS freq
      |FROM (SELECT unnest(str_split(text, ' ')) AS tok FROM documents)
      |WHERE tok <> '' GROUP BY 1 ORDER BY freq DESC, token ASC LIMIT 20""".stripMargin

  /** Order-sensitive rolling-hash fingerprints (Rabin-Karp fold over
    * md5-derived token codes, see TextOps.rollingFingerprint): per
    * source, how many docs and how many distinct SEQUENCES — the
    * dedup signal that distinguishes reordered near-copies, which the
    * bag-of-words md5 fingerprint (q24) cannot. */
  def q43RollingFingerprints(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens(col("text")))
      // native kernel: digest + fold fused, no intermediate code array
      // (TextOps.tokenCodes ∘ rollingFingerprint = the HOF reference)
      .withColumn("rfp", graft.functions.TokenCodesFunctions
        .rolling_fingerprint(col("toks"), TextOps.RollB, TextOps.RollM))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("doc_count"),
        countDistinct(col("rfp")).as("distinct_sequences"))
  }
  val q43Sql: String =
    s"""SELECT source, count(*) AS doc_count,
       |  count(DISTINCT list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(str_split(text, ' '),
       |        t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT))),
       |    (a, b) -> (a * ${TextOps.RollB} + b) % ${TextOps.RollM}))
       |    AS distinct_sequences
       |FROM documents GROUP BY 1""".stripMargin

  /** Sequence packing — the step between a cleaned corpus and a
    * trainer: documents are concatenated per source in a deterministic
    * order (doc_id) and chunked into fixed token-budget context
    * windows; a doc's bin is where its first token lands
    * (bin = ⌊exclusive-prefix-sum / budget⌋). Emits the per-bin
    * manifest (docs, tokens, id range) a dataloader shards by.
    *
    * Scale shape: ONE shuffle (hash on source for the window), then
    * the running sum is a partition-local sort + scan; the aggregate
    * reuses the same partitioning (no second exchange). At 100 TB with
    * giant sources, range-partition on (source, doc_id) and carry the
    * per-range token totals through a second small pass — the bin
    * arithmetic is unchanged because prefix sums are associative.
    */
  val PackBudget = 4096L

  /** Shared packing kernel: per-(keys..., bin) manifest over a
    * (keys..., doc_id, n_toks) frame — used by q47, the composed
    * pipeline q50 and the curation pipeline q84 so their bin
    * arithmetic can never drift apart. */
  def packManifest(perDoc: DataFrame,
                   keys: Seq[String] = Seq("source")): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // `div`, not `/`: Column `/` is double division, and above 2^53
    // prefix tokens the rounded double drifts bin boundaries off the
    // oracle's exact integer arithmetic — the prefix sum stays integral
    // end to end
    perDoc
      .withColumn("__prefix_toks", coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .withColumn("bin_id", expr(s"__prefix_toks div $PackBudget"))
      .drop("__prefix_toks")
      .groupBy(keys.map(col) :+ col("bin_id"): _*)
      .agg(count(lit(1)).as("doc_count"),
        sum(col("n_toks")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** DuckDB spelling of [[packManifest]] over a relation with
    * (source, doc_id, text) — `binned` CTE + final select. */
  def packSqlTail(from: String): String =
    s"""binned AS (
       |  SELECT source, doc_id, len(str_split(text, ' ')) AS n_toks,
       |         CAST(coalesce(sum(len(str_split(text, ' '))) OVER (
       |             PARTITION BY source ORDER BY doc_id
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           // $PackBudget AS BIGINT) AS bin_id
       |  FROM $from)
       |SELECT source, bin_id, count(*) AS doc_count,
       |       CAST(sum(n_toks) AS BIGINT) AS bin_tokens,
       |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM binned GROUP BY 1, 2""".stripMargin

  def q47SequencePacking(s: SparkSession, dir: String): DataFrame =
    packManifest(Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_toks")))
  val q47Sql: String = s"WITH ${packSqlTail("documents")}"

  /** Deterministic stratified sampling — the reproducible subsetting a
    * training-data pipeline needs (ablations, eval splits, per-source
    * mixing ratios): keep a doc iff the first byte of md5(doc_id) is
    * below rate·256. Pure scan-side codegen predicate — no RNG state,
    * no seed plumbing, same sample on every engine and every rerun,
    * and the sample decision lives with the ROW (a doc keeps its
    * fate under repartitioning, unlike `DataFrame.sample`, which is
    * partition-order-dependent). ~51/256 ≈ 19.9% here. Emits per
    * (source, lang) sample counts with id-range spot checks.
    */
  val SampleCut = 51L // of 256 ≈ 19.9%

  /** First byte of md5(doc_id) as a long in [0, 256) — the shared
    * sampling hash (q48 and the composed pipeline q50). */
  def sampleHashByte(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(docId.cast("string").cast("binary")), 1, 2), 16, 10)
      .cast("long")
  /** DuckDB spelling of [[sampleHashByte]] over doc_id — composed into
    * both the q48 predicate and q54's per-source CASE cut. */
  val sampleHashSql: String =
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS BIGINT)"
  /** DuckDB spelling of `sampleHashByte(doc_id) < SampleCut`. */
  val sampleSqlPredicate: String = s"$sampleHashSql < $SampleCut"

  def q48StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .filter(sampleHashByte(col("doc_id")) < SampleCut)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("sampled_docs"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
  }
  val q48Sql: String =
    s"""SELECT source, lang, count(*) AS sampled_docs,
       |       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
       |FROM documents
       |WHERE $sampleSqlPredicate
       |GROUP BY 1, 2""".stripMargin

  /** Per-source mixing rates — the data-mixture op behind every
    * pretraining recipe ("3 epochs of wiki, 0.2 of crawl"): each
    * source carries its own deterministic keep-rate, applied with the
    * same row-owned md5 cut as q48, so changing the recipe re-samples
    * reproducibly without touching the data. The recipe is a literal
    * map in the plan (broadcast-free — it rides inside codegen);
    * unlisted sources fall back to the default cut.
    */
  val MixCuts: Map[String, Long] =
    Map("src0" -> 230L, "src1" -> 128L, "src2" -> 26L) // of 256
  val MixDefaultCut = 64L
  def q54MixingRates(s: SparkSession, dir: String): DataFrame = {
    val cut = coalesce(
      element_at(
        typedLit(MixCuts),
        col("source")),
      lit(MixDefaultCut))
    Tables.documents(s, dir)
      .filter(sampleHashByte(col("doc_id")) < cut)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("sampled_docs"),
        min(col("doc_id")).as("min_doc_id"))
  }
  /** DuckDB spelling of the per-source mixing cut — shared by q54Sql
    * and the composed q84Sql so the recipe can't drift between
    * oracles. */
  def mixCutCaseSql: String = {
    val cases = MixCuts.toSeq.sorted
      .map { case (src, c) => s"WHEN source = '$src' THEN $c" }.mkString(" ")
    s"(CASE $cases ELSE $MixDefaultCut END)"
  }
  val q54Sql: String =
    s"""SELECT source, count(*) AS sampled_docs, min(doc_id) AS min_doc_id
       |FROM documents
       |WHERE $sampleHashSql < $mixCutCaseSql
       |GROUP BY 1""".stripMargin

  /** Benchmark-contamination screening — the train/test hygiene check
    * every pretraining pipeline runs: which training documents share
    * word 3-grams with a held-out benchmark set (here: doc_id < 20 as
    * the stand-in benchmark)? Emits per-source contamination counts
    * and the worst overlap.
    *
    * Scale shape: the benchmark's distinct shingle set is aggregated
    * into ONE row (benchmarks are thousands of docs — a few MB of
    * n-grams) and broadcast; the corpus is scanned once with a
    * scan-side `array_intersect` against it — no explode, no shuffle
    * of corpus shingles, contamination decided inside the scan stage.
    * For benchmark sets too big to broadcast, the same query flips to
    * an explode + shuffle-hash semi-join on the shingle hash; the
    * testdata shape exercises the broadcast path.
    */
  /** Staged distinct word-3-gram sets per doc — shared front of both
    * contamination paths. */
  private def docShingleSets(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens(col("text"))) // staged (HOF note in Dedup)
      .filter(size(col("toks")) >= 3)
      .select(col("source"), col("doc_id"),
        graft.functions.NGramSetFunctions.ngram_set(col("toks"), 3).as("shset"))

  def q49Contamination(s: SparkSession, dir: String): DataFrame = {
    val sh = docShingleSets(s, dir)
    // the benchmark array is SORTED once here so the per-row overlap
    // is |shset|·log|bench| binary searches (native kernel) — Spark's
    // array_intersect would rebuild a hash set of the whole benchmark
    // for EVERY corpus row (see SortedMemberCountKernel)
    val bench = sh.filter(col("doc_id") < 20)
      .agg(array_sort(array_distinct(flatten(collect_list(col("shset")))))
        .as("bench_sh"))
    sh.filter(col("doc_id") >= 20)
      .crossJoin(broadcast(bench))
      .withColumn("n_overlap",
        graft.functions.NGramSetFunctions.sorted_member_count(
          col("shset"), col("bench_sh")))
      .filter(col("n_overlap") > 0)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("contaminated_docs"),
        max(col("n_overlap")).as("max_overlap"))
  }

  /** The BIG-benchmark contamination path — same semantics as q49 for
    * a benchmark shingle set too large to broadcast as one row: both
    * sides explode to (doc, shingle) rows and meet in a SHUFFLE-HASH
    * join on the shingle (hash-partitioned both ways; the hint skips
    * the sort a merge join would impose on the corpus side, and the
    * bench side — the smaller one by assumption — builds the hash
    * table). Matched rows count back up per doc: both shingle sets are
    * distinct, so `count(*)` per (source, doc_id) is exactly
    * `|shset ∩ bench_sh|`, and docs with zero overlap drop out of the
    * inner join — identical output to q49's scan-side intersect, and
    * oracle-checked against the same SQL.
    *
    * Trade at 100 TB: q49 ships O(bench) bytes to every task and never
    * shuffles the corpus; this path shuffles O(corpus shingles) once
    * but holds only O(bench / shuffle-partitions) per task — the right
    * side of the trade once the bench row outgrows broadcast.
    */
  def q56ContaminationJoined(s: SparkSession, dir: String): DataFrame = {
    val sh = docShingleSets(s, dir)
    val benchShingles = sh.filter(col("doc_id") < 20)
      .select(explode(col("shset")).as("shingle")).distinct()
    sh.filter(col("doc_id") >= 20)
      .select(col("source"), col("doc_id"), explode(col("shset")).as("shingle"))
      .join(benchShingles.hint("shuffle_hash"), "shingle")
      .groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("contaminated_docs"),
        max(col("n_overlap")).as("max_overlap"))
  }

  /** Path selector: counts the benchmark's distinct shingles (a job
    * bounded by benchmark size — MBs next to the corpus scan it gates)
    * and picks the broadcast scan under the threshold, the shuffle
    * join above it. */
  def contaminationAuto(s: SparkSession, dir: String,
                        maxBroadcastShingles: Long = 10L * 1000 * 1000): DataFrame = {
    val nBench = docShingleSets(s, dir).filter(col("doc_id") < 20)
      .select(explode(col("shset")).as("shingle")).distinct().count()
    if (nBench <= maxBroadcastShingles) q49Contamination(s, dir)
    else q56ContaminationJoined(s, dir)
  }
  /** The benchmark's sorted distinct shingle array, pulled once to the
    * driver — size-GATED (a pre-count job, benchmark-bounded like
    * [[contaminationAuto]]'s probe, runs BEFORE the pull and refuses
    * past the broadcast bound): a benchmark is MBs of n-grams by
    * definition, and past the bound the right ingest spelling is
    * q56's per-batch shuffle join, not a bigger plan literal. Feeds
    * the q204 ingest gate as a plan-constant array, the Lexicon
    * kernels' pattern. */
  def benchShingleArray(s: SparkSession, dir: String,
                        maxBroadcastShingles: Long = 10L * 1000 * 1000)
      : Seq[String] = {
    // ONE staging scan (the gateBenchArray discipline): the distinct-
    // shingle frame is persisted across the size-gate count and the
    // driver pull, so the gate costs one scan while still refusing
    // BEFORE anything past the bound is collected
    val sh = docShingleSets(s, dir).filter(col("doc_id") < 20)
      .select(explode(col("shset")).as("shingle")).distinct().persist()
    try {
      val n = sh.count()
      require(n <= maxBroadcastShingles,
        s"benchmark has $n distinct shingles — past the $maxBroadcastShingles" +
          " plan-literal bound; screen at this size with q56's shuffle-join" +
          " spelling per batch instead of a driver pull")
      sh.agg(array_sort(collect_list(col("shingle")))).head().getSeq[String](0)
    } finally { sh.unpersist(); () }
  }

  /** Per-micro-batch contamination partials for the q204 ingest gate:
    * the batch's docs score their overlap against the plan-constant
    * sorted benchmark array scan-side (same [[graft.functions
    * .SortedMemberCountKernel]] binary-search kernel as q49), hits
    * fold to per-source (count, max) — both mergeable across batches
    * (sum of counts, max of maxes), so the landed partials are
    * O(sources) per batch and the snapshot is exact. */
  def contaminationPartials(batch: DataFrame, bench: Seq[String]): DataFrame =
    batch.withColumn("toks", TextOps.tokens(col("text")))
      .filter(size(col("toks")) >= 3 && col("doc_id") >= 20)
      .select(col("source"),
        graft.functions.NGramSetFunctions.sorted_member_count(
          graft.functions.NGramSetFunctions.ngram_set(col("toks"), 3),
          typedLit(bench)).as("n_overlap"))
      .filter(col("n_overlap") > 0)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("contaminated_docs"),
        max(col("n_overlap")).as("max_overlap"))

  val q49Sql: String = {
    val toks = "str_split(text, ' ')"
    s"""WITH sh AS (
       |  SELECT source, doc_id, list_distinct(
       |    list_transform(range(1, len($toks) - 1),
       |      i -> array_to_string(list_slice($toks, i, i + 2), ' '))) AS shset
       |  FROM documents WHERE len($toks) >= 3),
       |bench AS (
       |  SELECT list_distinct(flatten(list(shset))) AS bench_sh
       |  FROM sh WHERE doc_id < 20),
       |hits AS (
       |  SELECT source, len(list_intersect(shset, bench_sh)) AS n_overlap
       |  FROM sh, bench WHERE doc_id >= 20)
       |SELECT source, count(*) AS contaminated_docs, max(n_overlap) AS max_overlap
       |FROM hits WHERE n_overlap > 0 GROUP BY 1""".stripMargin
  }

  /** Repetition-quality stats (the Gopher-rule family, Rae et al.
    * 2021 §A1.1): per document, the share of bigram occurrences taken
    * by the SINGLE most frequent bigram, and the share of trigram
    * positions that belong to any REPEATED trigram — the two signals
    * that separate boilerplate/spam from prose before any model-based
    * scoring. Rolled up per source with docs flagged by threshold.
    *
    * Scale shape: both metrics are computed SCAN-SIDE (no explode — a
    * corpus of L-token docs would otherwise shuffle ~2L rows per doc)
    * by the native [[graft.functions.RunStats]] kernel: one sort + one
    * run-length pass per n-gram array, inside whole-stage codegen.
    * The HOF spelling ([[maxRunLength]]/[[dupPositions]] over
    * array_sort'ed arrays) is kept as the differential-test reference
    * — `aggregate`/`filter` lambdas are CodegenFallback, three
    * interpreted passes per doc that a 2000-token production document
    * would pay per row. Per doc the kernel is O(n log n), constant
    * memory; the ONLY shuffle is the final per-source rollup. The
    * integer-percent arithmetic keeps the oracle comparison exact (no
    * float ratios).
    */
  val TopBigramPctFlag = 5L
  val DupTrigramPctFlag = 0L

  /** Occurrence count of the most frequent element of a SORTED string
    * array: run-length fold — state (prev, run, best). */
  private[graft] def maxRunLength(sorted: Column): Column =
    aggregate(sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Count of positions of a SORTED array whose element also occurs
    * elsewhere (the complement of singletons — an element is a
    * singleton iff it differs from both sorted neighbors). */
  private[graft] def dupPositions(sorted: Column): Column = {
    val n = size(sorted)
    val singles = size(filter(sequence(lit(1), n), i =>
      (i === 1 || element_at(sorted, i) =!= element_at(sorted, i - 1)) &&
        (i === n || element_at(sorted, i) =!= element_at(sorted, i + 1))))
    n - singles
  }

  def q60RepetitionStats(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.RunStatsFunctions.ngram_run_stats
    val d = Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens(col("text"))) // staged (HOF note in Dedup)
      .filter(size(col("toks")) >= 3)
      .withColumn("rs_bi", ngram_run_stats(col("toks"), 2))
      .withColumn("rs_tri", ngram_run_stats(col("toks"), 3))
      .withColumn("top_bi_pct",
        (col("rs_bi.max_run") * 100 / (size(col("toks")) - 1)).cast("long"))
      .withColumn("dup_tri_pct",
        (col("rs_tri.dup_positions") * 100 / (size(col("toks")) - 2)).cast("long"))
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("doc_count"),
        sum(when(col("top_bi_pct") > TopBigramPctFlag ||
          col("dup_tri_pct") > DupTrigramPctFlag, 1L).otherwise(0L))
          .as("flagged_docs"),
        round(avg(col("top_bi_pct")), 2).as("avg_top_bigram_pct"),
        round(avg(col("dup_tri_pct")), 2).as("avg_dup_trigram_pct"))
  }

  /** q60 oracle — the explode/GROUP BY spelling of the same counts
    * (the oracle needs equal VALUES, not the engine's plan shape). */
  val q60Sql: String = {
    val toks = "str_split(text, ' ')"
    s"""WITH d AS (
       |  SELECT doc_id, source, $toks AS toks FROM documents
       |  WHERE len($toks) >= 3),
       |bi AS (
       |  SELECT doc_id, source, unnest(list_transform(range(1, len(toks)),
       |    i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS g
       |  FROM d),
       |tri AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
       |    i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS g
       |  FROM d),
       |bc AS (SELECT doc_id, source, g, count(*) AS c FROM bi GROUP BY 1, 2, 3),
       |tc AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY 1, 2),
       |bm AS (SELECT doc_id, source, 100 * max(c) // sum(c) AS top_bi_pct
       |       FROM bc GROUP BY 1, 2),
       |tm AS (SELECT doc_id,
       |              100 * coalesce(sum(c) FILTER (c > 1), 0) // sum(c) AS dup_tri_pct
       |       FROM tc GROUP BY 1)
       |SELECT source, count(*) AS doc_count,
       |       CAST(sum(CASE WHEN top_bi_pct > $TopBigramPctFlag
       |                       OR dup_tri_pct > $DupTrigramPctFlag
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS flagged_docs,
       |       round(avg(top_bi_pct), 2) AS avg_top_bigram_pct,
       |       round(avg(dup_tri_pct), 2) AS avg_dup_trigram_pct
       |FROM bm JOIN tm USING (doc_id) GROUP BY 1""".stripMargin
  }

  /** BM25 relevance scoring (Robertson–Spärck Jones, the standard
    * probabilistic ranking function): top-10 documents for a fixed
    * query-term set — the retrieval op behind targeted corpus curation
    * (pull the docs most about X for a domain mix, or rank
    * contamination hits). Textbook parameters k1=1.2, b=0.75 and the
    * Lucene idf = ln((N − df + ½)/(df + ½) + 1).
    *
    * Scale shape: two column-pruned scans and NO shuffle of the
    * corpus. Pass 1 reduces per-doc term frequencies (computed
    * scan-side with array `filter` against literal terms — no explode)
    * to ONE global stats row (N, avgdl, per-term df — bytes, the q49
    * broadcast pattern); pass 2 re-scans, crossJoins the broadcast
    * stats row, and folds the per-term scores in fixed literal order
    * (both engines sum left-to-right, keeping the double bit-stable).
    * Top-10 is a TakeOrdered, not a global sort.
    */
  val Bm25Terms: Seq[String] = Seq("vector", "join", "stream", "window", "the")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** Per-doc (doc_id, dl, tf0..tfk) — the shared front of both BM25
    * passes; tf via scan-side array filter against each literal term. */
  private def bm25PerDoc(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens(col("text"))) // staged (HOF note in Dedup)
    val tfs = Bm25Terms.zipWithIndex.map { case (t, i) =>
      size(filter(col("toks"), x => x === t)).cast("long").as(s"tf$i")
    }
    d.select(col("doc_id") +: size(col("toks")).cast("long").as("dl") +: tfs: _*)
  }

  def q62Bm25(s: SparkSession, dir: String): DataFrame = {
    val per = bm25PerDoc(s, dir)
    val stats = per.agg(count(lit(1)).as("n"),
      avg(col("dl")).as("avgdl") +: Bm25Terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*)
    val score = Bm25Terms.indices.map { i =>
      val idf = log((col("n") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5) + 1)
      val norm = col(s"tf$i") + lit(Bm25K1) *
        (lit(1 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))
      idf * (col(s"tf$i") * (Bm25K1 + 1)) / norm
    }.reduce(_ + _)
    per.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 6).as("bm25"))
      .transform(d => Shapes.topK(d, 10, col("bm25").desc, col("doc_id").asc))
  }

  val q62Sql: String = {
    val toks = "str_split(text, ' ')"
    val tfs = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(toks, x -> x = '$t')) AS tf$i"
    }.mkString(", ")
    val dfs = Bm25Terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val score = Bm25Terms.indices.map { i =>
      s"""ln((n - df$i + 0.5) / (df$i + 0.5) + 1) *
         | (tf$i * ${Bm25K1 + 1}) /
         | (tf$i + $Bm25K1 * (1 - $Bm25B + $Bm25B * dl / avgdl))""".stripMargin
    }.mkString(" + ")
    s"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
       |per AS (SELECT doc_id, len(toks) AS dl, $tfs FROM d),
       |st AS (SELECT count(*) AS n, avg(dl) AS avgdl, $dfs FROM per),
       |scored AS (SELECT doc_id, round($score, 6) AS bm25 FROM per, st)
       |SELECT doc_id, bm25 FROM scored
       |ORDER BY bm25 DESC, doc_id ASC LIMIT 10""".stripMargin
  }

  /** Unigram-LM surprisal scoring (the CCNet-style quality filter,
    * Wenzek et al. 2020: rank documents by language-model perplexity;
    * here the LM is a corpus-trained add-one-smoothed unigram model):
    * per document, the mean token surprisal −ln p(t), histogrammed per
    * source — low buckets ≈ common boilerplate, high ≈ rare/garbled.
    *
    * Determinism: per-token surprisal is QUANTIZED to integer
    * millinats (floor(−ln p · 1000)) on both engines, so every
    * downstream sum/avg/bucket is integer arithmetic — order-free and
    * oracle-exact; the only float op is each engine's own ln, whose
    * ≤1-ulp wobble would have to land exactly on a floor boundary to
    * show (same class of risk as q36's literal round-trip, accepted).
    *
    * Scale shape: the MODEL is vocab-bounded, not corpus-bounded — one
    * explode→count train pass reduces to |V| rows, collected like the
    * k-means codebook and baked into the scan as a map literal, so
    * SCORING is scan-side (array fold over the token map, no explode,
    * no shuffle); the only shuffle is the (source, bucket) rollup.
    * For a real 100k-token vocab the literal flips to a broadcast-join
    * of the surprisal table against exploded tokens (the q49→q56
    * duality), integer sums making the re-agg order-free.
    */
  private val SurprisalScale = 1000L
  private val surprisalMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[(String, Long)], Long)]()

  /** Train (memoized per dir) the unigram surprisal table: token →
    * floor(−ln((c+1)/(T+V))·1000), plus the OOV surprisal
    * floor(−ln(1/(T+V))·1000). Vocab-bounded collect (KMeans-style). */
  def surprisalTable(s: SparkSession, dir: String): (Seq[(String, Long)], Long) =
    surprisalMemo.computeIfAbsent(dir, _ => {
      val counts = Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
      val total = counts.map(_._2).sum
      val vocab = counts.size.toLong
      def surprisal(c: Long): Long =
        math.floor(-math.log((c + 1.0) / (total + vocab)) * SurprisalScale).toLong
      (counts.map { case (t, c) => t -> surprisal(c) }, surprisal(0L))
    })

  /** HOF spelling of the q64 scoring fold (map literal +
    * `aggregate`) — the differential-test reference for
    * [[graft.functions.LexiconSum]]. */
  private[graft] def q64FoldHof(toks: Column, table: Seq[(String, Long)],
                                oov: Long): Column = {
    val m = map(table.flatMap { case (t, v) => Seq(lit(t), lit(v)) }: _*)
    aggregate(toks, lit(0L), (acc, t) => acc + coalesce(element_at(m, t), lit(oov)))
  }

  def q64UnigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    val (table, oov) = surprisalTable(s, dir)
    // native kernel: one hash lookup per token inside codegen — the
    // map-literal `aggregate` fold (kept as q64FoldHof for the
    // differential spec) pays an interpreted closure per token
    val d = Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens(col("text"))) // staged (HOF note in Dedup)
      .withColumn("nll", graft.functions.LexiconFunctions
        .lexicon_sum(col("toks"), table.toMap, oov))
      .withColumn("avg_millinats", (col("nll") / size(col("toks"))).cast("long"))
    d.groupBy(col("source"),
        (col("avg_millinats") / 100).cast("long").as("surprisal_bucket"))
      .agg(count(lit(1)).as("doc_count"), min(col("doc_id")).as("min_doc_id"))
  }

  /** The BIG-VOCAB surprisal path (q65) — same semantics as q64 for a
    * model too large to bake as a map literal (a 100k-sentencepiece
    * vocab): the surprisal table stays a DATAFRAME (explode → count →
    * one tiny self-contained agg for the totals — never collected),
    * documents explode to (doc, token) rows, and the BROADCAST join
    * against the vocab-bounded table scores each token; integer
    * millinats make the per-doc re-aggregation order-free, so the
    * shuffle-side sum is exact (the q49→q56 duality, LM edition —
    * oracle-checked against the identical SQL as q64).
    *
    * Trade at 100 TB: q64 ships the table to every task inside the
    * plan and never shuffles the corpus; this path shuffles O(corpus
    * tokens) once but has no plan-size ceiling on the vocab. */
  def q65SurprisalJoined(s: SparkSession, dir: String): DataFrame = {
    val tk = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("t"))
    val cnt = tk.groupBy(col("t")).agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum(col("c")).as("total"),
      count(lit(1)).as("vocab"))
    val st = cnt.crossJoin(broadcast(tot))
      .select(col("t"),
        floor(-log((col("c") + 1.0) / (col("total") + col("vocab")))
          * SurprisalScale).cast("long").as("s"))
    tk.join(broadcast(st), Seq("t"))
      .groupBy(col("source"), col("doc_id"))
      .agg((sum(col("s")) / count(lit(1))).cast("long").as("avg_millinats"))
      .groupBy(col("source"),
        (col("avg_millinats") / 100).cast("long").as("surprisal_bucket"))
      .agg(count(lit(1)).as("doc_count"), min(col("doc_id")).as("min_doc_id"))
  }

  /** Path selector (the contaminationAuto twin): counts the vocab (a
    * job bounded by vocab size) and picks the map-literal scan under
    * the threshold, the broadcast join above it — a 100k-token
    * sentencepiece vocab as a plan literal would blow the codegen
    * constant pool long before it stopped broadcasting. */
  def surprisalAuto(s: SparkSession, dir: String,
                    maxLiteralVocab: Long = 10L * 1000): DataFrame = {
    val vocab = Tables.documents(s, dir)
      .select(explode(TextOps.tokens(col("text"))).as("t"))
      .agg(countDistinct(col("t"))).collect()(0).getLong(0)
    if (vocab <= maxLiteralVocab) q64UnigramSurprisal(s, dir)
    else q65SurprisalJoined(s, dir)
  }

  /** q64 oracle — recomputes the unigram model and the SAME integer
    * quantization from the data (no literals cross the engine
    * boundary; each engine takes its own ln). Integer sums per doc are
    * order-free, so the explode/JOIN spelling is safe here, unlike a
    * float sum. */
  val q64Sql: String = {
    val toks = "str_split(text, ' ')"
    s"""WITH tk AS (
       |  SELECT doc_id, source, unnest($toks) AS t FROM documents),
       |cnt AS (SELECT t, count(*) AS c FROM tk GROUP BY 1),
       |tot AS (SELECT sum(c) AS total, count(*) AS vocab FROM cnt),
       |st AS (SELECT t, CAST(floor(-ln((c + 1.0) / (total + vocab))
       |                              * $SurprisalScale) AS BIGINT) AS s
       |       FROM cnt, tot),
       |doc AS (
       |  SELECT doc_id, source,
       |         CAST(sum(s) AS BIGINT) // count(*) AS avg_millinats
       |  FROM tk JOIN st USING (t) GROUP BY 1, 2)
       |SELECT source, avg_millinats // 100 AS surprisal_bucket,
       |       count(*) AS doc_count, min(doc_id) AS min_doc_id
       |FROM doc GROUP BY 1, 2""".stripMargin
  }

  /** Mid-band surprisal pruning (q160) — loss-percentile data
    * selection, the document-grain cousin of RHO-style "learnable
    * token" selection: per source, rank every document by its q64
    * average unigram surprisal and keep only the middle band
    * (ceil-rank p25..p75). The tails are the point — the low tail is
    * boilerplate/duplicated text the model already "knows" (low loss
    * teaches nothing), the high tail is noise/OCR garbage/wrong-
    * language text (high loss isn't learnable); the band between is
    * where training signal lives. Census output: per source, the kept
    * doc/token counts and the band's surprisal bounds — the numbers a
    * curation run uses to set its final keep predicate.
    *
    * Scale shape: one corpus scan scores documents with the codegen'd
    * [[graft.functions.LexiconSum]] fold (q64's kernel — the vocab
    * rides the plan, the corpus never joins); ranking is ONE hash
    * exchange on source feeding a per-source sort (the q140 window
    * discipline); the census collapses to O(sources) rows. Ties take
    * the doc_id tie-break — a pinned total order, so both engines walk
    * the identical permutation and the band edges are bit-exact. At
    * extreme docs-per-source the exact rank sort gives way to the q155
    * sampled-quantile cut (select by value against sampled band
    * bounds, no full sort) — same trade the exact-median audit
    * documents there. */
  /** Per-doc q64 scoring, shared by the band cuts (q160 exact rank /
    * q164 sampled): (source, doc_id, n_toks, avg_millinats), the
    * average in exact integer division (not q64's double-divide-then-
    * cast: the band EDGES ride on this value, and a double quotient a
    * hair under an integer can round up where `//` floors). */
  private def surprisalScored(s: SparkSession, dir: String): DataFrame = {
    val (table, oov) = surprisalTable(s, dir)
    Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("nll", graft.functions.LexiconFunctions
        .lexicon_sum(col("toks"), table.toMap, oov))
      .select(col("source"), col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"),
        expr("nll div size(toks)").as("avg_millinats"))
  }

  /** The doc-scoring CTEs of the q160/q164 oracles — q64's model and
    * quantization, ending in a `doc(doc_id, source, n_toks,
    * avg_millinats)` relation (ONE copy so the two band spellings
    * can't drift). */
  private val surprisalDocSqlCtes: String = {
    val toks = "str_split(text, ' ')"
    s"""tk AS (
       |  SELECT doc_id, source, unnest($toks) AS t FROM documents),
       |cnt AS (SELECT t, count(*) AS c FROM tk GROUP BY 1),
       |tot AS (SELECT sum(c) AS total, count(*) AS vocab FROM cnt),
       |st AS (SELECT t, CAST(floor(-ln((c + 1.0) / (total + vocab))
       |                              * $SurprisalScale) AS BIGINT) AS s
       |       FROM cnt, tot),
       |doc AS (
       |  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_toks,
       |         CAST(sum(s) AS BIGINT) // count(*) AS avg_millinats
       |  FROM tk JOIN st USING (t) GROUP BY 1, 2)""".stripMargin
  }

  def q160SurprisalBand(s: SparkSession, dir: String): DataFrame = {
    val scored = surprisalScored(s, dir)
    val bySurprisal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("avg_millinats"), col("doc_id"))
    scored
      .withColumn("r", row_number().over(bySurprisal).cast("long"))
      .withColumn("n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))).cast("long"))
      .filter(expr("r >= (n * 25 + 99) div 100 AND r <= (n * 75 + 99) div 100"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("kept_docs"),
        sum(col("n_toks")).cast("long").as("kept_tokens"),
        min(col("avg_millinats")).as("lo_millinats"),
        max(col("avg_millinats")).as("hi_millinats"))
  }

  /** q160 oracle — q64's model + quantization, then the identical
    * ceil-rank band in DuckDB windows. */
  val q160Sql: String = {
    s"""WITH $surprisalDocSqlCtes,
       |rk AS (
       |  SELECT *,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY avg_millinats, doc_id) AS r,
       |         count(*) OVER (PARTITION BY source) AS n
       |  FROM doc)
       |SELECT source, CAST(count(*) AS BIGINT) AS kept_docs,
       |       CAST(sum(n_toks) AS BIGINT) AS kept_tokens,
       |       min(avg_millinats) AS lo_millinats,
       |       max(avg_millinats) AS hi_millinats
       |FROM rk
       |WHERE r >= (n * 25 + 99) // 100 AND r <= (n * 75 + 99) // 100
       |GROUP BY 1""".stripMargin
  }

  /** Sampled band cut (q164) — q160's documented escape hatch made
    * real: at extreme docs-per-source the exact rank band's per-source
    * sort is the operator's whole cost, so the at-scale spelling cuts
    * BY VALUE against band bounds estimated from a deterministic
    * bottom-k-by-hash sample ([[graft.functions.BottomKSample]] —
    * O(k) state, merge-order-invariant, so the bounds and therefore
    * the whole census stay hash-exact against the oracle). Plan: the
    * scored scan feeds one O(sources·k) sample agg; the p25/p75 bounds
    * broadcast back; the keep predicate is a scan-side BETWEEN — no
    * corpus sort, no rank window, O(sources) census. Semantic
    * difference from q160, by design: the cut is value-inclusive
    * (every doc AT a bound value is kept, whatever its rank) and the
    * bounds carry sampling error measured by q155's err_pm machinery —
    * the price of dropping the sort, stated instead of hidden. */
  def q164SampledBand(s: SparkSession, dir: String,
                      k: Int = Stats.QuantileRegK): DataFrame = {
    val scored = surprisalScored(s, dir)
    val pairs = scored.select(col("source"),
      conv(substring(md5(concat(lit("band:"), col("doc_id").cast("string"))),
        1, 15), 16, 10).cast("long").as("h"),
      col("avg_millinats").as("v"))
    def q(p: Int) = element_at(col("sample"),
      expr(s"cast((size(sample) * $p + 99) div 100 as int)"))
    val bounds = pairs.groupBy(col("source"))
      .agg(graft.functions.BottomKSample
        .bottomk_sample(col("h"), col("v"), k).as("sample"))
      .select(col("source"), q(25).as("lo"), q(75).as("hi"))
    scored.join(broadcast(bounds), Seq("source"))
      .filter(col("avg_millinats").between(col("lo"), col("hi")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("kept_docs"),
        sum(col("n_toks")).cast("long").as("kept_tokens"),
        max(col("lo")).as("lo_millinats"),
        max(col("hi")).as("hi_millinats"))
  }

  /** q164 oracle — the identical sample (same "band:" hash tag, same
    * bottom-k and ceil-rank spelling as q155Sql) and the identical
    * value-inclusive cut. */
  lazy val q164Sql: String =
    s"""WITH $surprisalDocSqlCtes,
       |hv AS (
       |  SELECT source, avg_millinats AS v,
       |         CAST('0x' || substr(md5('band:' || CAST(doc_id AS VARCHAR)),
       |                             1, 15) AS BIGINT) AS h
       |  FROM doc),
       |samp AS (
       |  SELECT source, v FROM (
       |    SELECT source, v,
       |           row_number() OVER (PARTITION BY source ORDER BY h, v) AS rn
       |    FROM hv) WHERE rn <= ${Stats.QuantileRegK}),
       |sv AS (
       |  SELECT source, v,
       |         row_number() OVER (PARTITION BY source ORDER BY v) AS vr,
       |         count(*) OVER (PARTITION BY source) AS m
       |  FROM samp),
       |b AS (
       |  SELECT source,
       |         max(CASE WHEN vr = (m * 25 + 99) // 100 THEN v END) AS lo,
       |         max(CASE WHEN vr = (m * 75 + 99) // 100 THEN v END) AS hi
       |  FROM sv GROUP BY 1)
       |SELECT source, CAST(count(*) AS BIGINT) AS kept_docs,
       |       CAST(sum(n_toks) AS BIGINT) AS kept_tokens,
       |       max(lo) AS lo_millinats, max(hi) AS hi_millinats
       |FROM doc JOIN b USING (source)
       |WHERE avg_millinats BETWEEN lo AND hi
       |GROUP BY 1""".stripMargin

  /** Excess-surprisal-tilted mixture (q161) — a DoReMi-flavored
    * reweighting step: sources whose per-token surprisal EXCEEDS the
    * corpus mean (the proxy for "the model finds this domain hard /
    * underfit") get their mixture weight tilted up, proportionally to
    * the excess. This is one LINEAR multiplicative-weights step of the
    * reference algorithm, kept integer-exact so it can sit on the hash
    * oracle (the true exponential update is a deploy-time rescale of
    * the same excess column — q136's rescale convention). Output per
    * source: token count, per-token mean surprisal, excess over the
    * corpus mean, and the tilted weight in ppm.
    *
    * Scale shape: the q64 kernel scores the scan; everything after is
    * O(sources) arithmetic behind two broadcast 1-row crosses (the
    * q97/q136 cross, documented in PlanSpec). Corpus-total nll sums
    * reach ~10¹⁷ at 100 TB (tokens ~10¹³ × ~10⁴ millinats) — inside a
    * long; the weight numerator w·10⁶ is NOT, so it is spelled in
    * DECIMAL(38)/HUGEINT (the q137 lift convention). */
  def q161ExcessMixture(s: SparkSession, dir: String): DataFrame = {
    val (table, oov) = surprisalTable(s, dir)
    val per = Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("source"),
        graft.functions.LexiconFunctions
          .lexicon_sum(col("toks"), table.toMap, oov).as("nll"),
        size(col("toks")).cast("long").as("n_toks"))
      .groupBy(col("source"))
      .agg(sum(col("nll")).as("nll"), sum(col("n_toks")).as("tokens"))
    val corpus = per.agg(sum(col("nll")).as("nll_all"),
      sum(col("tokens")).as("tokens_all"))
    val tilted = per.crossJoin(broadcast(corpus))
      .withColumn("mean_milli", expr("nll div tokens"))
      .withColumn("excess_milli",
        expr("greatest(nll div tokens - nll_all div tokens_all, 0)"))
      .withColumn("w", expr("tokens * (1000 + excess_milli)"))
    val wtot = tilted.agg(sum(col("w")).as("wtot"))
    tilted.crossJoin(broadcast(wtot))
      .select(col("source"), col("tokens"), col("mean_milli"),
        col("excess_milli"),
        expr("CAST(CAST(w AS DECIMAL(38,0)) * 1000000 div wtot AS BIGINT)")
          .as("weight_ppm"))
  }

  /** q161 oracle — same model, same integer tilt, HUGEINT for the
    * weight numerator. */
  val q161Sql: String = {
    val toks = "str_split(text, ' ')"
    s"""WITH tk AS (
       |  SELECT doc_id, source, unnest($toks) AS t FROM documents),
       |cnt AS (SELECT t, count(*) AS c FROM tk GROUP BY 1),
       |tot AS (SELECT sum(c) AS total, count(*) AS vocab FROM cnt),
       |st AS (SELECT t, CAST(floor(-ln((c + 1.0) / (total + vocab))
       |                              * $SurprisalScale) AS BIGINT) AS s
       |       FROM cnt, tot),
       |per AS (
       |  SELECT source, CAST(sum(s) AS BIGINT) AS nll,
       |         CAST(count(*) AS BIGINT) AS tokens
       |  FROM tk JOIN st USING (t) GROUP BY 1),
       |c AS (SELECT CAST(sum(nll) AS BIGINT) AS nll_all,
       |             CAST(sum(tokens) AS BIGINT) AS tokens_all FROM per),
       |tilt AS (
       |  SELECT source, tokens, nll // tokens AS mean_milli,
       |         greatest(nll // tokens - nll_all // tokens_all, 0)
       |           AS excess_milli,
       |         tokens * (1000 + greatest(nll // tokens
       |           - nll_all // tokens_all, 0)) AS w
       |  FROM per, c),
       |wt AS (SELECT CAST(sum(w) AS BIGINT) AS wtot FROM tilt)
       |SELECT source, tokens, mean_milli, excess_milli,
       |       CAST(CAST(w AS HUGEINT) * 1000000 // wtot AS BIGINT)
       |         AS weight_ppm
       |FROM tilt, wt""".stripMargin
  }

  /** Bigram-LM surprisal census (q95) — the next rung of the LM-quality
    * ladder above q64/q65: score every document by its average
    * CONDITIONAL token surprisal −ln p(w2|w1), with the bigram model
    * trained on the corpus itself (add-1 smoothing over the unigram
    * vocab, the KenLM-without-backoff-weights shape). Documents whose
    * word order is typical of the corpus score low even when q64's
    * order-blind unigram model can't tell them apart from shuffled
    * text — this is the cheap fluency signal a pretraining pipeline
    * runs before paying for a neural perplexity pass.
    *
    * Scale shape: this is the q65 big-model path by construction — a
    * bigram table is O(distinct bigrams) and is NEVER collected or
    * broadcast as a literal. Bigrams are built scan-side with
    * zip_with over two array slices (no posexplode self-join), the
    * model is trained with one hash-agg on (w1,w2), context totals
    * re-aggregate that table (O(vocab), never the corpus), and
    * scoring is one shuffle join of corpus bigrams against the model
    * on (w1,w2) — the same key both sides hash on. Integer millinats
    * (floor·1000, the [[SurprisalScale]] convention) make the per-doc
    * sum order-free so the shuffle-side aggregation is exact.
    */
  /** (source, doc_id, w1, w2) — one row per consecutive token pair,
    * built scan-side with zip_with over two array slices (no
    * posexplode self-join). Shared by q95 and q99 so the bigram
    * definition can't drift between the self-scored and held-out
    * censuses. Docs with <2 tokens contribute nothing (both oracles
    * filter identically). */
  private def bigramsOf(docsWithToks: DataFrame): DataFrame =
    docsWithToks.filter(size(col("toks")) >= 2)
      .select(col("source"), col("doc_id"),
        explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("source"), col("doc_id"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** Add-1 bigram model counts over a tokenized frame: c2 on (w1,w2),
    * c1 context totals (re-aggregated from c2 — O(vocab), never the
    * corpus), and the 1-row vocab size. ONE training definition for
    * the self-scored (q95) and held-out (q99) censuses. */
  private def bigramCounts(d: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val c2 = bigramsOf(d).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vocab = d.select(explode(col("toks")).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    (c2, c1, vocab)
  }

  /** floor(−ln((c2+1)/(c1+V))·scale) — THE smoothing formula, in one
    * place; q99 passes coalesced counts so OOV degenerates through the
    * same expression. */
  private def add1Surprisal(c2: Column, c1: Column, v: Column): Column =
    floor(-log((c2 + 1.0) / (c1 + v)) * SurprisalScale).cast("long")

  /** The census tail shared by q95/q99: (source, doc_id, s2) rows →
    * per-doc integer mean → bucket → per-(source, bucket) census. */
  private def surprisalCensus(scored: DataFrame): DataFrame =
    scored.groupBy(col("source"), col("doc_id"))
      // integer `div`, not double-divide-then-truncate: bit-exact with
      // the oracle's `//` floor division (q100/q102 discipline)
      .agg(expr("sum(s2) div count(1)").as("avg_millinats"))
      .groupBy(col("source"),
        expr("avg_millinats div 100").as("surprisal_bucket"))
      .agg(count(lit(1)).as("doc_count"), min(col("doc_id")).as("min_doc_id"))

  def q95BigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens(col("text")))
    val (c2, c1, vocab) = bigramCounts(d)
    // self-scoring: every corpus bigram is in the model, so s2 is
    // precomputed per DISTINCT pair (O(model), not O(corpus bigrams))
    // and the scoring join stays inner
    val model = c2.join(c1, Seq("w1")).crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        add1Surprisal(col("c2"), col("c1"), col("v")).as("s2"))
    surprisalCensus(bigramsOf(d).join(model, Seq("w1", "w2")))
  }
  // ---- DuckDB spellings of the shared bigram-LM pieces (one
  // definition per engine, the rankedSqlCtes pattern). All defs, not
  // vals: q99Sql interpolates splitLabelSql declared further down the
  // file, and an eager val would capture null at object init.
  private def bigramsSqlCte(sel: String, from: String,
                            pred: String = ""): String =
    s"""(SELECT ${sel}toks[i] AS w1, toks[i + 1] AS w2
       |   FROM (SELECT ${sel}toks,
       |           unnest(generate_series(1, len(toks) - 1)) AS i
       |         FROM $from WHERE ${pred}len(toks) >= 2))""".stripMargin
  private def bigramCountsSqlCtes(bgRel: String, vocabFrom: String): String =
    s"""c2 AS (SELECT w1, w2, count(*) AS c2 FROM $bgRel GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
       |voc AS (SELECT count(DISTINCT t) AS v
       |        FROM (SELECT unnest(toks) AS t FROM $vocabFrom))""".stripMargin
  private def add1SurprisalSql(c2: String, c1: String): String =
    s"CAST(floor(-ln(($c2 + 1.0) / ($c1 + v)) * $SurprisalScale) AS BIGINT)"
  private def surprisalCensusTailSql: String =
    """doc AS (
      |  SELECT doc_id, source,
      |         CAST(sum(s2) AS BIGINT) // count(*) AS avg_millinats
      |  FROM scored GROUP BY 1, 2)
      |SELECT source, avg_millinats // 100 AS surprisal_bucket,
      |       count(*) AS doc_count, min(doc_id) AS min_doc_id
      |FROM doc GROUP BY 1, 2""".stripMargin

  /** q95 oracle — the model is retrained inside DuckDB from the same
    * corpus (each engine takes its own ln; only the floor·1000
    * integers must agree, the q64 convention). */
  val q95Sql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, source, str_split(text, ' ') AS toks FROM documents),
       |bg AS ${bigramsSqlCte("doc_id, source, ", "tk")},
       |${bigramCountsSqlCtes("bg", "tk")},
       |model AS (
       |  SELECT w1, w2, ${add1SurprisalSql("c2", "c1")} AS s2
       |  FROM c2 JOIN c1 USING (w1), voc),
       |scored AS (
       |  SELECT doc_id, source, s2 FROM bg JOIN model USING (w1, w2)),
       |$surprisalCensusTailSql""".stripMargin

  /** Hot-pair cut for the skew-safe scoring split (q104): how many of
    * the highest-count bigram pairs ride the broadcast path. 1024
    * pairs ≈ the Zipf head that concentrates reducers; broadcast cost
    * is K·(two words + a long) — a few hundred KB at any corpus size. */
  val HotPairK = 1024

  /** Skew-safe bigram surprisal (q104) — q95 with the hot-pair split,
    * the q42/q56 duality in bigram form. q95's scoring join shuffles
    * every corpus bigram on (w1, w2); on a real corpus the Zipf head
    * ("of the", "in the") concentrates a large fraction of ALL bigram
    * occurrences onto a handful of reducers — the one 100×-scale flag
    * the round-6 audit left open. The split: the top-K pairs by count
    * are broadcast and matched map-side (the heavy-hitter mass NEVER
    * enters a shuffle); the remaining tail — whose per-key cardinality
    * is bounded by the K-th hottest count — takes the ordinary
    * shuffled join. Identical output to q95 (same model, same
    * formula; each bigram scores on exactly one branch since
    * hot ∩ tail = ∅), same oracle.
    *
    * Cost shape, stated honestly: the model ladder runs once
    * (localCheckpointed — O(distinct bigrams), the q98 discipline) and
    * the corpus is scanned twice (once per branch, each branch
    * map-side-filtered by the broadcast hot set) — one more scan than
    * q95 in exchange for a shuffle whose largest key is capped at the
    * K-th count. Columnar scans are cheap and re-parallelize freely;
    * a skewed reducer does not. graft.Scale measures the crossover
    * on a replicated corpus (q95_skew vs q104_skew). */
  def q104BigramSkewSafe(s: SparkSession, dir: String,
                         hotPairs: Int = HotPairK): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens(col("text")))
    val (c2, c1, vocab) = bigramCounts(d)
    val model = c2.join(c1, Seq("w1")).crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"), col("c2"),
        add1Surprisal(col("c2"), col("c1"), col("v")).as("s2"))
      .localCheckpoint()
    // deterministic hot cut: ties at the K boundary break on the pair
    val hot = broadcast(model
      .orderBy(col("c2").desc, col("w1"), col("w2")).limit(hotPairs)
      .select(col("w1"), col("w2"), col("s2")))
    val tailModel = model.join(hot.select(col("w1"), col("w2")),
      Seq("w1", "w2"), "left_anti")
    val bg = bigramsOf(d)
    val hotScored = bg.join(hot, Seq("w1", "w2")) // map-side, no shuffle
      .select(col("source"), col("doc_id"), col("s2"))
    val tailScored = bg
      .join(hot.select(col("w1"), col("w2")), Seq("w1", "w2"), "left_anti")
      .join(tailModel, Seq("w1", "w2"))
      .select(col("source"), col("doc_id"), col("s2"))
    surprisalCensus(hotScored.unionByName(tailScored))
  }

  /** The scoring-plan decision statistic (q154's probe): the share of
    * total bigram occurrences held by the single HOTTEST pair, in ppm
    * — exactly the mass the worst reducer would carry in the flat
    * shuffled join (a top-K share would saturate to 100% whenever the
    * model has fewer than K pairs, as this synthetic corpus does, and
    * say nothing about any one reducer). Measured on a deterministic
    * 1-in-8 doc sample: a ratio statistic is robust to uniform doc
    * sampling, so the probe costs one model-grain agg over ~12% of
    * the corpus — orders cheaper than either scoring pass it gates.
    * Expects a frame with (doc_id, toks). The sample is taken on the
    * md5 split-byte ([[splitByte]] with a probe-specific salt), NOT
    * raw `doc_id % k` — a sharded id scheme (ids ≡ 1 mod 8, say)
    * would leave a modulo sample empty and silently defeat the
    * selector; the content-stable hash is unbiased for any id
    * assignment (the q77 split discipline). */
  def hottestBigramSharePpm(d: DataFrame): Long = {
    val probeByte = conv(substring(md5(
      concat(lit("probe:"), col("doc_id").cast("string")).cast("binary")),
      1, 2), 16, 10).cast("long")
    val c2 = bigramsOf(d.filter(probeByte < 32)) // 32/256 = 1-in-8
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      .agg(coalesce(max(col("c2")), lit(0L)).as("top"),
        coalesce(sum(col("c2")), lit(0L)).as("total")).head()
    if (c2.getLong(1) == 0L) 0L else c2.getLong(0) * 1000000L / c2.getLong(1)
  }

  /** Adaptive surprisal scoring (q154) — the [[contaminationAuto]]
    * discipline for the skew family: MEASURE the reducer concentration
    * first, then pick q95's flat single-join plan or q104's hot-split.
    * Default threshold 20,000 ppm: a pair holding ≥2% of corpus
    * bigrams puts 20× the fair share on one task in a 1000-task
    * shuffle — the regime where the split's second scan is cheaper
    * than the serialized reducer (PLANS.md's crossover rows); the
    * driver testdata probes ~1,300-13,000 ppm and takes the flat
    * plan. Both branches produce identical output by construction, so
    * the choice is a pure physical-plan decision and the oracle
    * (q95Sql) is branch-independent. */
  def q154SurprisalAuto(s: SparkSession, dir: String,
                        splitThresholdPpm: Long = 20000L): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens(col("text")))
    if (hottestBigramSharePpm(d) >= splitThresholdPpm)
      q104BigramSkewSafe(s, dir)
    else q95BigramSurprisal(s, dir)
  }

  /** Held-out surprisal census (q99) — eval hygiene for the LM-quality
    * ladder: the bigram model is trained ONLY on the train split
    * (q77's salted content-stable cut) and scores ONLY val docs, so
    * the score is a true held-out perplexity proxy instead of q95's
    * self-scoring (which rewards memorized duplicates). OOV handled by
    * the same add-1 formula degenerating smoothly: unseen pair with a
    * seen context → 1/(c1+V); unseen context → 1/V — one expression,
    * no special-case branches, engine-exact in integer millinats.
    *
    * Scale shape = q95 plus two LEFT joins instead of one inner (the
    * val bigrams keep their row on a model miss — that IS the
    * held-out semantics); the split predicate prunes the train scan
    * and the val scan from the same source relation. */
  def q99HeldoutSurprisal(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("split", splitLabel(col("doc_id")))
      .withColumn("toks", TextOps.tokens(col("text")))
    val (c2, c1, vocab) = bigramCounts(d.filter(col("split") === "train"))
    surprisalCensus(
      bigramsOf(d.filter(col("split") === "val"))
        .join(c2, Seq("w1", "w2"), "left")
        .join(c1, Seq("w1"), "left")
        .crossJoin(broadcast(vocab))
        .select(col("source"), col("doc_id"),
          add1Surprisal(coalesce(col("c2"), lit(0L)),
            coalesce(col("c1"), lit(0L)), col("v")).as("s2")))
  }
  /** Skew-safe held-out surprisal (q153) — q99 with the q104 hot-split
    * treatment, closing the round-7/8 audit's last flat-path flag:
    * q99's scoring joins shuffle every VAL bigram on (w1, w2) and then
    * on w1 for the context total, and the w1 marginal is the most
    * Zipf-concentrated key in the pipeline ("the" as context). The
    * split is three-way and exhaustive (hot ∩ tail = ∅ at each level,
    * so every val bigram scores exactly once, same formula):
    *  1. hot PAIRS (top-K train-count bigrams, s2 precomputed at model
    *     grain) — broadcast, matched map-side;
    *  2. tail pairs with a hot CONTEXT (top-K w1 marginals, c1 carried
    *     by the broadcast) — the pair c2 arrives via a shuffle whose
    *     per-key mass is capped by the K-th hot pair's train count,
    *     the context total map-side;
    *  3. tail pairs with a cold context — ordinary shuffled left
    *     joins, both keys now below their hot cuts.
    * OOV degenerates identically to q99 (coalesce-0 through the same
    * add-1 expression on branch 3).
    *
    * Honesty note: the cuts are by TRAIN-split counts while the skew
    * is in the VAL scoring stream — held-out hygiene means the scored
    * side cannot define its own cut. Train and val draw from the same
    * corpus distribution (q77's content-stable hash split), so the
    * train Zipf head IS the val Zipf head up to sampling noise; an
    * adversarially divergent val stream degrades to q99's flat
    * behavior, never below it. Oracle: q99Sql (identical output). */
  def q153HeldoutSkewSafe(s: SparkSession, dir: String,
                          hotK: Int = HotPairK): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("split", splitLabel(col("doc_id")))
      .withColumn("toks", TextOps.tokens(col("text")))
    val train = d.filter(col("split") === "train")
    // model ladder runs once (the q104 localCheckpoint discipline):
    // c2 feeds the hot cut, the tail model and the context totals
    val c2 = bigramsOf(train).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2")).localCheckpoint()
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vocab = train.select(explode(col("toks")).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    // hot pairs, held-out edition: s2 fully precomputed (the c1/vocab
    // joins run at MODEL grain — O(distinct bigrams), never corpus)
    val hot = broadcast(c2.join(c1, Seq("w1")).crossJoin(broadcast(vocab))
      .orderBy(col("c2").desc, col("w1"), col("w2")).limit(hotK)
      .select(col("w1"), col("w2"),
        add1Surprisal(col("c2"), col("c1"), col("v")).as("s2")))
    // hot contexts: the Zipf head of the w1 marginal, c1 riding along
    val hotCtx = broadcast(c1.orderBy(col("c1").desc, col("w1")).limit(hotK)
      .select(col("w1"), col("c1").as("hot_c1")))
    val bg = bigramsOf(d.filter(col("split") === "val"))
    val hotScored = bg.join(hot, Seq("w1", "w2")) // map-side
      .select(col("source"), col("doc_id"), col("s2"))
    val tailC2 = c2.join(hot.select(col("w1"), col("w2")),
      Seq("w1", "w2"), "left_anti")
    val tailWithPair = bg
      .join(hot.select(col("w1"), col("w2")), Seq("w1", "w2"), "left_anti")
      .join(tailC2, Seq("w1", "w2"), "left") // capped at the K-th pair count
    val tailHotCtx = tailWithPair.join(hotCtx, Seq("w1")) // map-side
      .crossJoin(broadcast(vocab))
      .select(col("source"), col("doc_id"),
        add1Surprisal(coalesce(col("c2"), lit(0L)), col("hot_c1"),
          col("v")).as("s2"))
    val coldC1 = c1.join(hotCtx.select(col("w1")), Seq("w1"), "left_anti")
    val tailColdCtx = tailWithPair
      .join(hotCtx.select(col("w1")), Seq("w1"), "left_anti") // map-side cut
      .join(coldC1, Seq("w1"), "left") // capped at the K-th context count
      .crossJoin(broadcast(vocab))
      .select(col("source"), col("doc_id"),
        add1Surprisal(coalesce(col("c2"), lit(0L)),
          coalesce(col("c1"), lit(0L)), col("v")).as("s2"))
    surprisalCensus(hotScored.unionByName(tailHotCtx).unionByName(tailColdCtx))
  }

  // lazy: splitLabelSql is declared further down the file — an eager
  // val here would interpolate null at object init (caught by the
  // oracle gate: every DuckDB row got split = NULL)
  lazy val q99Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, str_split(text, ' ') AS toks,
       |         $splitLabelSql AS split
       |  FROM documents),
       |trainbg AS ${bigramsSqlCte("", "d", "split = 'train' AND ")},
       |${bigramCountsSqlCtes("trainbg", "d WHERE split = 'train'")},
       |valbg AS ${bigramsSqlCte("doc_id, source, ", "d", "split = 'val' AND ")},
       |scored AS (
       |  SELECT doc_id, source,
       |         ${add1SurprisalSql("coalesce(c2.c2, 0)", "coalesce(c1.c1, 0)")} AS s2
       |  FROM valbg LEFT JOIN c2 USING (w1, w2)
       |             LEFT JOIN c1 USING (w1), voc),
       |$surprisalCensusTailSql""".stripMargin

  /** Per-source OOV census against a FROZEN vocabulary: (tokens, oov)
    * counts per source, the drift signal a deployed tokenizer/LM needs
    * watched at ingest (new slang, a new language, a broken feed all
    * surface as OOV-rate jumps against the trained artifact). The
    * vocab frame is deduplicated and broadcast — at 100 TB the corpus
    * explode never shuffles for the membership check. SUM-mergeable by
    * construction, so the incremental twin
    * (Streams.incrementalOovStats) lands per-batch partials and the
    * live rate is a sum. */
  def oovStats(docs: DataFrame, vocab: DataFrame): DataFrame =
    oovStatsFrozen(docs, frozenVocab(vocab))

  /** Deduplicate + tag a vocab frame once — callers that probe
    * repeatedly (the incremental monitor) persist THIS and skip the
    * per-probe distinct shuffle. One row per token is a correctness
    * requirement: duplicate keys would multiply joined token rows and
    * inflate the census. */
  def frozenVocab(vocab: DataFrame): DataFrame =
    vocab.select(col("t")).distinct().withColumn("known", lit(1))

  /** [[oovStats]] against an already-frozen ([[frozenVocab]]) frame. */
  def oovStatsFrozen(docs: DataFrame, frozen: DataFrame): DataFrame =
    docs.select(col("source"), explode(TextOps.tokens(col("text"))).as("t"))
      .join(broadcast(frozen), Seq("t"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("tokens"),
        count(when(col("known").isNull, 1)).as("oov"))

  /** The train-split vocabulary (q77's cut) — the frozen reference the
    * OOV monitor watches against; one column `t`. */
  def trainVocab(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(splitLabel(col("doc_id")) === "train")
      .select(explode(TextOps.tokens(col("text"))).as("t")).distinct()

  /** Temperature-scaled mixture weights (q97) — the sampling-rate
    * calculation multilingual/multi-source pretraining uses to keep
    * big sources from drowning small ones (the p^τ renormalization
    * from the public XLM-R / mT5 recipes, τ = 0.7): per-source token
    * totals n_s become weights w_s ∝ n_s^τ, reported in millionths.
    * Integerization: n_s^τ is floor-quantized to int millis FIRST and
    * the renormalization ratio is computed in exact integer math
    * (q·10⁶ div Σq), so cross-engine float drift is confined to pow()
    * itself — the q64 ln-convention, pow edition.
    *
    * Scale: one hash-agg over the corpus for token totals (O(sources)
    * rows out), a 1-row total broadcast-crossed back — no other
    * exchange, nothing driver-side. */
  /** Per-source token totals — q97's corpus pass, shared with the
    * incremental twin (totals are SUM-mergeable across micro-batches). */
  def sourceTokenTotals(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"))
      .agg(sum(size(TextOps.tokens(col("text"))).cast("long")).as("tokens"))

  /** The weight math over an already-aggregated (source, tokens) frame
    * — O(sources) rows in, so every step below the corpus agg is
    * negligible at any corpus size. */
  def mixtureWeightsFrom(per: DataFrame, tau: Double): DataFrame = {
    val q = per.withColumn("q",
      floor(pow(col("tokens").cast("double"), lit(tau)) * 1000d).cast("long"))
    val tot = q.agg(sum(col("q")).as("qtot"))
    q.crossJoin(broadcast(tot))
      .select(col("source"), col("tokens"),
        expr("q * 1000000 div qtot").as("mix_millionths"))
  }

  def q97MixtureWeights(s: SparkSession, dir: String, tau: Double = 0.7)
      : DataFrame =
    mixtureWeightsFrom(sourceTokenTotals(Tables.documents(s, dir)), tau)

  /** The per/q CTE pair of the τ-mixture (DuckDB spelling of
    * [[sourceTokenTotals]] + the floor·1000 quantization) — ONE copy
    * shared by q97Sql and q136Sql so the weight definition can't
    * drift between the mixture and the epoch schedule built on it
    * (the chunksSqlCte rule). */
  private val mixtureSqlCtes: String =
    """per AS (
      |  SELECT source, CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY 1),
      |q AS (SELECT source, tokens,
      |        CAST(floor(pow(CAST(tokens AS DOUBLE), 0.7) * 1000) AS BIGINT) AS q
      |      FROM per)""".stripMargin
  val q97Sql: String =
    s"""WITH $mixtureSqlCtes,
       |tot AS (SELECT CAST(sum(q) AS BIGINT) AS qtot FROM q)
       |SELECT source, tokens, q * 1000000 // qtot AS mix_millionths
       |FROM q, tot""".stripMargin

  /** DSIR target source: importance weights are trained to prefer
    * documents that look like THIS slice of the corpus. */
  val DsirTarget = "src0"
  private val dsirMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[(String, Long)], Long)]()

  /** Train (memoized per dir) the DSIR log-ratio table: per token,
    * λ(t) = surprisal_background(t) − surprisal_target(t) in
    * millinats, each side quantized EXACTLY like q64 (floor·1000)
    * before the subtraction so both engines hit identical integers.
    * Add-1 smoothing over the shared union vocab; one vocab-bounded
    * collect (the surprisalTable pattern). */
  def dsirTable(s: SparkSession, dir: String): (Seq[(String, Long)], Long) =
    dsirMemo.computeIfAbsent(dir, _ => {
      val rows = Tables.documents(s, dir)
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("t"))
        .groupBy(col("t"))
        .agg(count(lit(1)).as("cb"),
          count(when(col("source") === DsirTarget, 1)).as("ct"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
      val v = rows.size.toLong
      val btot = rows.map(_._2).sum
      val ttot = rows.map(_._3).sum
      def sur(c: Long, tot: Long): Long =
        math.floor(-math.log((c + 1.0) / (tot + v)) * SurprisalScale).toLong
      (rows.map { case (t, cb, ct) => t -> (sur(cb, btot) - sur(ct, ttot)) },
        sur(0L, btot) - sur(0L, ttot))
    })

  /** DSIR importance resampling census (q71) — data selection for
    * language models (Xie et al., public literature): score every
    * document by the average token log-likelihood RATIO between a
    * target LM (the [[DsirTarget]] slice) and the background LM (the
    * whole corpus), then keep documents scoring ≥ 0 (more target-like
    * than background). Scoring rides the same scan-side
    * [[graft.functions.LexiconSum]] kernel as q64 — the λ table is one
    * map literal, so the corpus never shuffles for scoring; the only
    * exchange is the final (source, kept) rollup. The census shows the
    * resampler recovering the target slice: src0 keeps nearly all its
    * docs, other sources only their target-like tail.
    */
  def q71DsirCensus(s: SparkSession, dir: String): DataFrame = {
    val (table, oov) = dsirTable(s, dir)
    Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("lamsum", graft.functions.LexiconFunctions
        .lexicon_sum(col("toks"), table.toMap, oov))
      .withColumn("score",
        floor(col("lamsum") * 1.0 / size(col("toks"))))
      .groupBy(col("source"), (col("score") >= 0).as("kept"))
      .agg(count(lit(1)).as("doc_count"),
        min(col("score")).as("min_score"), max(col("score")).as("max_score"))
  }
  val q71Sql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, source, unnest(str_split(text, ' ')) AS t FROM documents),
       |bg AS (SELECT t, count(*) AS cb,
       |              count(*) FILTER (source = '$DsirTarget') AS ct
       |       FROM tk GROUP BY 1),
       |tot AS (SELECT sum(cb) AS btot, sum(ct) AS ttot, count(*) AS v FROM bg),
       |lam AS (
       |  SELECT t,
       |    CAST(floor(-ln((cb + 1.0) / (btot + v)) * $SurprisalScale) AS BIGINT)
       |  - CAST(floor(-ln((ct + 1.0) / (ttot + v)) * $SurprisalScale) AS BIGINT)
       |      AS lam
       |  FROM bg, tot),
       |doc AS (
       |  SELECT doc_id, source,
       |         CAST(floor(sum(lam) * 1.0 / count(*)) AS BIGINT) AS score
       |  FROM tk JOIN lam USING (t) GROUP BY 1, 2)
       |SELECT source, score >= 0 AS kept, count(*) AS doc_count,
       |       min(score) AS min_score, max(score) AS max_score
       |FROM doc GROUP BY 1, 2""".stripMargin

  /** Document fingerprinting: md5 over canonicalized text, rolled up
    * per source — duplicate mass per ingestion feed. */
  def q24Fingerprints(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("fp", TextOps.fingerprint(col("text")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("doc_count"),
        countDistinct(col("fp")).as("distinct_docs"))
      .withColumn("dup_docs", col("doc_count") - col("distinct_docs"))
  }
  val q24Sql: String =
    """SELECT source, count(*) AS doc_count,
      |       count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
      |         AS distinct_docs,
      |       count(*) - count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
      |         AS dup_docs
      |FROM documents GROUP BY 1""".stripMargin

  // ── q75: deterministic weighted priority sampling ──────────────────

  /** Weighted sampling without replacement (q75) — the "prefer long /
    * high-quality documents" sampler every mixture recipe needs once
    * rates alone (q54) aren't enough. Classic A-Res (Efraimidis &
    * Spirakis 2006) keys each row with u^(1/w); to stay ORACLE-EXACT
    * we use the integer-monotone analog: priority = h div w for a
    * row-owned 60-bit md5 hash h and weight w = n_chars. P(row wins)
    * is monotone-increasing in w exactly as with A-Res, every
    * arithmetic step is integer (no ln/pow whose final-ulp wobble
    * could flip a rank across engines), and the key lives with the
    * row — stable under repartitioning and replay, like the q48 cut.
    * Top-3 per source by smallest priority.
    *
    * Scale shape: the hash + div ride the scan; per-group top-k is a
    * rank window on the source partitioning — WindowGroupLimit pushes
    * the limit below the exchange, so only each partition's local
    * top-3 candidates shuffle, never the corpus (same shape as q7/q29).
    *
    * Invariant: the divisor is greatest(n_chars, 1) on BOTH sides —
    * a zero-length doc would otherwise divide by zero, and the two
    * engines disagree on the fallout (Spark `div` -> NULL sorts FIRST
    * under asc, DuckDB `//` -> NULL sorts LAST), silently handing the
    * sample to empty docs in Spark only.
    */
  val WSampleK = 3
  def q75WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(concat(lit("wsamp:"),
      col("doc_id").cast("string")).cast("binary")), 1, 15), 16, 10).cast("long")
    val ranked = Tables.documents(s, dir)
      .withColumn("__h", h)
      .withColumn("priority", expr("__h div greatest(n_chars, 1L)"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(col("priority").asc, col("doc_id").asc)))
    ranked.filter(col("rk") <= WSampleK)
      .select(col("source"), col("rk").cast("long").as("rk"),
        col("doc_id"), col("n_chars"), col("priority"))
  }
  val q75Sql: String =
    s"""WITH keyed AS (
       |  SELECT source, doc_id, n_chars,
       |         CAST('0x' || substr(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 15)
       |              AS BIGINT) // greatest(n_chars, 1) AS priority
       |  FROM documents),
       |ranked AS (
       |  SELECT source, doc_id, n_chars, priority,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY priority ASC, doc_id ASC) AS rk
       |  FROM keyed)
       |SELECT source, rk, doc_id, n_chars, priority
       |FROM ranked WHERE rk <= $WSampleK""".stripMargin

  // ── q76: PII detection + redaction census ──────────────────────────

  /** PII scrubbing (q76) — the compliance pass every training corpus
    * runs before tokenization (the C4/Dolma cleanup stage): detect and
    * redact email addresses and IPv4 literals with anchored regexes,
    * then report per source how many of each were removed and how many
    * characters the redaction dropped. The synthetic corpus contains
    * no PII, so the query PLANTS deterministic doc_id-derived
    * addresses inside the plan (both engines plant identically) and
    * the scrubber — the part under test — must find exactly those.
    * Patterns are written in the common Java-regex/RE2 subset so both
    * engines compile the same automaton.
    *
    * Scale shape: pure scan-side string work (regexp_count +
    * regexp_replace inside codegen), one (source) rollup shuffle —
    * the cheapest possible shape for a full-corpus rewrite pass; at
    * 100 TB this runs at parquet-scan speed and the rewrite would
    * stream straight to the cleaned-copy sink.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  /** The scrubber itself — shared by batch q76 and the streaming
    * ingest-time curation (Streams.curationIngest). */
  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"), Ipv4Re, "<IP>")
  /** The deterministic PII plant (q76's convention — the synthetic
    * corpus carries no real PII, so the stage under test gets real
    * mass): every doc gains an email, every third an IP. Shared by
    * q76 and the q208 write-path gate so the plant can't drift. */
  def plantedPii: Column = concat(col("text"),
    lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
    when(col("doc_id") % 3 === 0,
      concat(lit(" from 10.0."), (col("doc_id") % 200).cast("string"), lit(".7")))
      .otherwise(lit("")))
  /** [[plantedPii]], spelled for DuckDB over `documents`. */
  val plantedPiiSql: String =
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ||" +
      " (CASE WHEN doc_id % 3 = 0" +
      " THEN ' from 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.7'" +
      " ELSE '' END)"

  def q76PiiRedaction(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("t2", plantedPii)
      .withColumn("emails", regexp_count(col("t2"), lit(EmailRe)))
      .withColumn("ips", regexp_count(col("t2"), lit(Ipv4Re)))
      .withColumn("redacted", redactPii(col("t2")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("doc_count"),
        sum(col("emails")).cast("long").as("emails_removed"),
        sum(col("ips")).cast("long").as("ips_removed"),
        sum(length(col("t2")) - length(col("redacted"))).cast("long")
          .as("chars_redacted"))
  }
  val q76Sql: String =
    s"""WITH p AS (
       |  SELECT source, $plantedPiiSql AS t2
       |  FROM documents),
       |r AS (
       |  SELECT source, t2,
       |    len(regexp_extract_all(t2, '$EmailRe')) AS emails,
       |    len(regexp_extract_all(t2, '$Ipv4Re')) AS ips,
       |    regexp_replace(regexp_replace(t2, '$EmailRe', '<EMAIL>', 'g'),
       |                   '$Ipv4Re', '<IP>', 'g') AS redacted
       |  FROM p)
       |SELECT source, count(*) AS doc_count,
       |       CAST(sum(emails) AS BIGINT) AS emails_removed,
       |       CAST(sum(ips) AS BIGINT) AS ips_removed,
       |       CAST(sum(len(t2) - len(redacted)) AS BIGINT) AS chars_redacted
       |FROM r GROUP BY 1""".stripMargin

  // ── q77: train/val/test split census ───────────────────────────────

  /** Deterministic dataset splitting (q77) — the train/val/test
    * assignment that must NEVER depend on row order, partition count,
    * or rerun: a row-owned md5 byte (salted 'split:' so it is
    * independent of the q48 sampling byte) cut at 204/230 of 256
    * (≈ 80/10/10). The census cross-tabs source × split with doc and
    * char mass — the table a data-card reports, and the check that no
    * source leaks disproportionately into eval.
    *
    * Scale shape: the split decision rides the scan (same codegen'd
    * md5 as q48); one (source, split) rollup shuffle. The same
    * predicate IS the split reader's filter — selecting one split
    * never touches the others' bytes when the copy-out is written
    * partitioned by it.
    */
  val SplitTrainCut = 204L // of 256 ≈ 79.7%
  val SplitValCut = 230L   // next ≈ 10.2%, rest test
  def splitByte(docId: Column): Column =
    conv(substring(md5(concat(lit("split:"), docId.cast("string"))
      .cast("binary")), 1, 2), 16, 10).cast("long")
  /** The split label — shared by batch q77 and the streaming
    * ingest-time curation (Streams.curationIngest). */
  def splitLabel(docId: Column): Column = {
    val b = splitByte(docId)
    when(b < SplitTrainCut, "train")
      .when(b < SplitValCut, "val").otherwise("test")
  }
  def q77SplitCensus(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("split", splitLabel(col("doc_id")))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("doc_count"),
        sum(col("n_chars")).as("chars"),
        min(col("doc_id")).as("min_doc_id"))
  }
  /** DuckDB spelling of [[splitLabel]] — shared by q77Sql and the
    * composed q84Sql (the sampleHashSql pattern: salt or cut changes
    * happen in ONE place per engine). */
  val splitLabelSql: String = {
    val b = "CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) AS BIGINT)"
    s"""CASE WHEN $b < $SplitTrainCut THEN 'train'
       |     WHEN $b < $SplitValCut THEN 'val' ELSE 'test' END""".stripMargin
  }
  val q77Sql: String =
    s"""SELECT source,
       |  $splitLabelSql AS split,
       |  count(*) AS doc_count, CAST(sum(n_chars) AS BIGINT) AS chars,
       |  min(doc_id) AS min_doc_id
       |FROM documents GROUP BY 1, 2""".stripMargin

  // ── q78: per-source TF-IDF keywords ────────────────────────────────

  /** TF-IDF keyword extraction (q78) — "what is each source ABOUT":
    * treat each source's concatenated docs as one pseudo-document,
    * weight its term frequencies by document-level inverse document
    * frequency, and keep the top-3 terms per source. The classic
    * corpus-exploration op behind domain labeling and mixture design
    * (and the static half of BM25's idf, q62). Determinism: idf is
    * quantized to integer millinats (floor(ln(N/df)·1000), the q64
    * convention) BEFORE the tf multiply, so ranking compares exact
    * integers; ln's final-ulp wobble would have to land a float
    * exactly on a floor boundary to show (accepted q64-class risk).
    *
    * Scale shape: one explode feeding two hash-aggs — tf on
    * (source, term) and df on distinct (term, doc) — then a
    * vocab-bounded BROADCAST of the df table back onto tf (the
    * q65 duality; vocab rows, not corpus rows) and a rank window on
    * the source partitioning for top-3 (WindowGroupLimit, as q75).
    * The corpus shuffles once (the explode's aggs); everything
    * downstream is vocab-sized.
    */
  val TfidfK = 3
  def q78TfidfKeywords(s: SparkSession, dir: String): DataFrame = {
    val tk = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("t"))
    val tf = tk.groupBy(col("source"), col("t")).agg(count(lit(1)).as("tf"))
    val df = tk.select(col("t"), col("doc_id")).distinct()
      .groupBy(col("t")).agg(count(lit(1)).as("dfc"))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val idf = df.crossJoin(broadcast(n))
      .select(col("t"),
        floor(log(col("n_docs") / col("dfc").cast("double")) * 1000)
          .cast("long").as("idf_mnat"))
    val scored = tf.join(broadcast(idf), Seq("t"))
      .withColumn("tfidf_mnat", col("tf") * col("idf_mnat"))
    scored.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(col("tfidf_mnat").desc, col("t").asc)))
      .filter(col("rk") <= TfidfK)
      .select(col("source"), col("rk").cast("long").as("rk"),
        col("t").as("term"), col("tf"), col("tfidf_mnat"))
  }
  val q78Sql: String =
    s"""WITH tk AS (
       |  SELECT source, doc_id, unnest(str_split(text, ' ')) AS t FROM documents),
       |tf AS (SELECT source, t, count(*) AS tf FROM tk GROUP BY 1, 2),
       |df AS (SELECT t, count(*) AS dfc FROM
       |        (SELECT DISTINCT t, doc_id FROM tk) GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |idf AS (SELECT t, CAST(floor(ln(n_docs / CAST(dfc AS DOUBLE)) * 1000)
       |                       AS BIGINT) AS idf_mnat
       |        FROM df, n),
       |scored AS (
       |  SELECT source, t, tf, tf * idf_mnat AS tfidf_mnat
       |  FROM tf JOIN idf USING (t)),
       |ranked AS (
       |  SELECT source, t, tf, tfidf_mnat,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY tfidf_mnat DESC, t ASC) AS rk
       |  FROM scored)
       |SELECT source, rk, t AS term, tf, tfidf_mnat
       |FROM ranked WHERE rk <= $TfidfK""".stripMargin

  // ------------------------------------------- length winsorization

  /** Winsorize percentiles: clip below P5 and above P95 per source. */
  val WinsLoPct = 5L
  val WinsHiPct = 95L

  /** Per-source winsorized length trim (q88) — the outlier-clipping
    * gate a curation pipeline runs before length-sensitive stages
    * (packing budgets, quality ratios): per source, find the EXACT
    * discrete P5/P95 of n_chars and report how much of the corpus a
    * clip at those bounds keeps, drops, and truncates.
    *
    * Exact distributed quantiles WITHOUT a per-group value buffer
    * (the q37 audit showed an OpenHashMap percentile buffer is the
    * dominant cost there): lengths live in a small bounded domain, so
    * `groupBy(source, n_chars).count` compacts the corpus map-side to
    * O(sources · distinct lengths) rows, and the quantile is read off
    * a cumulative-sum window over that compacted table — the window
    * sorts thousands of rows, never the corpus. Discrete (lower)
    * quantile semantics: smallest value with cum·100 ≥ pct·tot —
    * integer arithmetic end to end, so both engines agree exactly,
    * unlike interpolated quantiles.
    *
    * Scale shape (round 12 — ONE scan, down from two): the only
    * corpus-grain stage is the map-side-compacting histogram agg;
    * thresholds AND the whole census are read off the compacted
    * O(sources · distinct lengths) table (a doc's census contribution
    * is a pure function of its length, so the histogram carries
    * everything — counts weight the clip arithmetic). The corpus is
    * never shuffled and never rescanned. At 100 TB the histogram is
    * ~sources × 1e5 lengths — kilobytes per executor. The histogram is
    * also SUM-mergeable, which is what the incremental twin (q186)
    * lands per batch.
    */
  def q88LengthWinsorize(s: SparkSession, dir: String): DataFrame =
    winsorizeCensus(lengthHistogramOf(
      Tables.documents(s, dir).select(col("source"), col("n_chars"))))

  /** The per-source length histogram — q88's one corpus-grain stage,
    * shared with the incremental monitor's per-batch partials. */
  private[graft] def lengthHistogramOf(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("c"))

  /** The q88 threshold + census arithmetic over a (source, n_chars, c)
    * histogram — ONE definition for batch q88 and the incremental
    * snapshot (q186), so batch and at-ingest winsorization can never
    * drift. */
  private[graft] def winsorizeCensus(byLen: DataFrame): DataFrame = {
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n_chars"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
    val th = byLen
      .withColumn("cum", sum(col("c")).over(wOrd))
      .withColumn("tot", sum(col("c")).over(wAll))
      .groupBy(col("source"))
      .agg(
        min(when(col("cum") * 100 >= lit(WinsLoPct) * col("tot"),
          col("n_chars"))).as("p_lo"),
        min(when(col("cum") * 100 >= lit(WinsHiPct) * col("tot"),
          col("n_chars"))).as("p_hi"))
    byLen.join(broadcast(th), "source")
      .groupBy(col("source"), col("p_lo"), col("p_hi"))
      .agg(
        sum(when(col("n_chars").between(col("p_lo"), col("p_hi")), col("c"))
          .otherwise(lit(0L))).as("kept_docs"),
        sum(when(col("n_chars") < col("p_lo"), col("c")).otherwise(lit(0L)))
          .as("clipped_low"),
        sum(when(col("n_chars") > col("p_hi"), col("c")).otherwise(lit(0L)))
          .as("clipped_high"),
        sum(greatest(least(col("n_chars"), col("p_hi")), col("p_lo"))
          * col("c")).as("wins_chars"))
  }
  val q88Sql: String =
    s"""WITH by_len AS (
       |  SELECT source, n_chars, count(*) AS c FROM documents GROUP BY 1, 2),
       |cum AS (
       |  SELECT source, n_chars, c,
       |         sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum,
       |         sum(c) OVER (PARTITION BY source) AS tot
       |  FROM by_len),
       |th AS (
       |  SELECT source,
       |         min(CASE WHEN cum * 100 >= $WinsLoPct * tot THEN n_chars END) AS p_lo,
       |         min(CASE WHEN cum * 100 >= $WinsHiPct * tot THEN n_chars END) AS p_hi
       |  FROM cum GROUP BY 1)
       |SELECT d.source, t.p_lo, t.p_hi,
       |       count(CASE WHEN d.n_chars BETWEEN t.p_lo AND t.p_hi THEN 1 END)
       |         AS kept_docs,
       |       count(CASE WHEN d.n_chars < t.p_lo THEN 1 END) AS clipped_low,
       |       count(CASE WHEN d.n_chars > t.p_hi THEN 1 END) AS clipped_high,
       |       CAST(sum(greatest(least(d.n_chars, t.p_hi), t.p_lo)) AS BIGINT)
       |         AS wins_chars
       |FROM documents d JOIN th t ON d.source = t.source
       |GROUP BY 1, 2, 3""".stripMargin

  // ------------------------------------------------ distribution drift

  /** Per-source KL token-distribution drift (q89) — the data-mixture
    * diagnostic behind reweighting decisions: how far each source's
    * unigram distribution sits from the corpus mixture,
    * KL(P_source ‖ P_corpus) = Σ_t p·ln(p/q). A source of boilerplate
    * or another language scores high; a source that looks like the
    * blend scores ~0. The same number DSIR-style pipelines threshold
    * on, computed corpus-wide instead of per-doc (q71's sibling at
    * the source granularity).
    *
    * Integer contract (the q64/q78 millinat convention): each term
    * contributes tf·⌊1000·ln((tf·T)/(T_s·ctf))⌋ — ln on a double
    * ratio assembled the same way in both engines, floored to integer
    * millinats BEFORE the sum, so the aggregate is order-free and
    * hash-exact. (The quantized KL can dip a hair below zero since
    * ⌊·⌋ rounds each term down — it's a drift SCORE, not a proper
    * divergence; ranking is what it's for.)
    *
    * Scale shape: ONE corpus-scale stage — explode to (source, token)
    * and hash-agg; everything after operates on the compacted
    * vocab-sized table: corpus totals re-aggregate IT (never rescan
    * the corpus), per-source totals broadcast back, the grand total
    * rides a 1-row broadcast cross. The ctf join keys on token over
    * the compacted table — a shuffle of O(vocab·sources) rows, not
    * O(corpus).
    */
  def q89SourceKlDrift(s: SparkSession, dir: String): DataFrame = {
    val st = Tables.documents(s, dir)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("tf"))
    val ctf = st.groupBy(col("t")).agg(sum(col("tf")).as("ctf"))
    val stot = st.groupBy(col("source")).agg(sum(col("tf")).as("stot"))
    val tot = stot.agg(sum(col("stot")).as("tot"))
    val terms = st.join(ctf, "t")
      .join(broadcast(stot), "source")
      .crossJoin(broadcast(tot))
      .withColumn("kl_term", col("tf") *
        floor(log((col("tf").cast("double") * col("tot")) /
          (col("stot").cast("double") * col("ctf"))) * 1000).cast("long"))
    terms.groupBy(col("source"))
      .agg(max(col("stot")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(col("kl_term")).as("kl_mnat"))
  }
  val q89Sql: String =
    s"""WITH st AS (
       |  SELECT source, unnest(str_split(text, ' ')) AS t FROM documents),
       |tf AS (SELECT source, t, count(*) AS tf FROM st GROUP BY 1, 2),
       |ctf AS (SELECT t, sum(tf) AS ctf FROM tf GROUP BY 1),
       |stot AS (SELECT source, sum(tf) AS stot FROM tf GROUP BY 1),
       |tot AS (SELECT sum(stot) AS tot FROM stot),
       |terms AS (
       |  SELECT f.source,
       |         f.tf * CAST(floor(ln((CAST(f.tf AS DOUBLE) * tot.tot) /
       |                  (CAST(s.stot AS DOUBLE) * c.ctf)) * 1000) AS BIGINT)
       |           AS kl_term
       |  FROM tf f
       |  JOIN ctf c ON f.t = c.t
       |  JOIN stot s ON f.source = s.source
       |  CROSS JOIN tot)
       |SELECT s.source, CAST(s.stot AS BIGINT) AS n_tokens,
       |       (SELECT count(*) FROM tf WHERE tf.source = s.source) AS vocab,
       |       CAST((SELECT sum(kl_term) FROM terms WHERE terms.source = s.source)
       |            AS BIGINT) AS kl_mnat
       |FROM stot s""".stripMargin

  // -------------------------------------------------- split leakage

  /** Train/val/test leakage census (q93) — the eval-integrity check a
    * split assignment must pass AFTER dedup decisions are made: a
    * canonical-text fingerprint (the q24 exact-dedup key) that
    * appears in more than one split is a leak — the model trains on
    * its own eval text. Per split: docs, distinct fingerprints,
    * fingerprints also present elsewhere, and the docs those cover.
    * Zero leaks is the healthy answer; the row still exists (the
    * census reports per split, not per leak, so an empty-leak corpus
    * hash-matches instead of vanishing).
    *
    * Scale shape: one corpus-scale hash-agg to (fp, split) — the
    * same compaction q24 rides; the cross-split membership count
    * re-aggregates THAT table on fp and joins back to it (both sides
    * O(distinct fps), AQE picks the join); the final census is 3
    * rows. The corpus text is scanned once, never shuffled.
    */
  /** The census arithmetic over an (fp, split, c) frame — shared by
    * batch q93 and the streaming guard snapshot
    * (Streams.splitGuardSnapshot) so the two can never drift. */
  def leakageCensus(fs: DataFrame): DataFrame = {
    val ns = fs.groupBy(col("fp")).agg(count(lit(1)).as("n_splits"))
    fs.join(ns, "fp")
      .groupBy(col("split"))
      .agg(sum(col("c")).as("doc_count"),
        count(lit(1)).as("distinct_fps"),
        count(when(col("n_splits") >= 2, lit(1))).as("leaky_fps"),
        coalesce(sum(when(col("n_splits") >= 2, col("c"))), lit(0L))
          .as("leaked_docs"))
  }

  def q93SplitLeakage(s: SparkSession, dir: String): DataFrame =
    leakageCensus(Tables.documents(s, dir)
      .select(TextOps.fingerprint(col("text")).as("fp"),
        splitLabel(col("doc_id")).as("split"))
      .groupBy(col("fp"), col("split")).agg(count(lit(1)).as("c")))
  val q93Sql: String =
    s"""WITH fs AS (
       |  SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
       |         $splitLabelSql AS split,
       |         count(*) AS c
       |  FROM documents GROUP BY 1, 2),
       |ns AS (SELECT fp, count(*) AS n_splits FROM fs GROUP BY 1)
       |SELECT split, CAST(sum(c) AS BIGINT) AS doc_count,
       |       count(*) AS distinct_fps,
       |       count(CASE WHEN n_splits >= 2 THEN 1 END) AS leaky_fps,
       |       CAST(coalesce(sum(CASE WHEN n_splits >= 2 THEN c END), 0) AS BIGINT)
       |         AS leaked_docs
       |FROM fs JOIN ns USING (fp)
       |GROUP BY 1""".stripMargin

  // -------------------------------------------------- interpolated LM

  /** Jelinek-Mercer interpolated held-out surprisal (q115): q99's
    * eval-hygiene rung with the PROPER backoff — score(w2|w1) =
    * −ln(0.75·p₂ + 0.25·p₁) where p₂ = c2/c1 is the raw train bigram
    * conditional (0 when the context is unseen) and p₁ = (u+1)/(N+V)
    * the add-1 train unigram. Where q99's add-1 collapses every
    * unseen bigram toward the same uniform mass, interpolation lets a
    * frequent-unigram continuation stay cheap and a never-seen word
    * stay expensive — the difference between "novel phrasing" and
    * "novel vocabulary", which is exactly what a data-quality gate
    * wants to distinguish. λ = 0.75 spelled as exact double literals
    * in BOTH engines; the one float expression is identical
    * operation-for-operation (the q95 discipline), floored to integer
    * millinats before anything crosses the engine boundary.
    *
    * Scale shape: q99's exactly — train-side model tables are
    * O(distinct bigrams)/O(vocab), never collected; the val corpus
    * takes three LEFT joins (bigram, context, unigram) planned by
    * size (model side broadcasts at this SF); the split predicate
    * prunes both scans.
    */
  def q115InterpolatedSurprisal(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("split", splitLabel(col("doc_id")))
      .withColumn("toks", TextOps.tokens(col("text")))
    val train = d.filter(col("split") === "train")
    val (c2, c1, _) = bigramCounts(train)
    val uni = train.select(explode(col("toks")).as("w2"))
      .groupBy(col("w2")).agg(count(lit(1)).as("u2"))
    val totals = uni.agg(sum(col("u2")).as("n"), count(lit(1)).as("v"))
    val p2 = coalesce(col("c2"), lit(0L)) / coalesce(col("c1"), lit(1L))
    val p1 = (coalesce(col("u2"), lit(0L)) + 1.0) / (col("n") + col("v"))
    surprisalCensus(
      bigramsOf(d.filter(col("split") === "val"))
        .join(c2, Seq("w1", "w2"), "left")
        .join(c1, Seq("w1"), "left")
        .join(uni, Seq("w2"), "left")
        .crossJoin(broadcast(totals))
        .select(col("source"), col("doc_id"),
          floor(-log(lit(0.75) * p2 + lit(0.25) * p1) * SurprisalScale)
            .cast("long").as("s2")))
  }
  lazy val q115Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, str_split(text, ' ') AS toks,
       |         $splitLabelSql AS split
       |  FROM documents),
       |trainbg AS ${bigramsSqlCte("", "d", "split = 'train' AND ")},
       |${bigramCountsSqlCtes("trainbg", "d WHERE split = 'train'")},
       |uni AS (
       |  SELECT t AS w2, count(*) AS u2
       |  FROM (SELECT unnest(toks) AS t FROM d WHERE split = 'train')
       |  GROUP BY 1),
       |totals AS (SELECT CAST(sum(u2) AS BIGINT) AS n, count(*) AS v
       |           FROM uni),
       |valbg AS ${bigramsSqlCte("doc_id, source, ", "d", "split = 'val' AND ")},
       |scored AS (
       |  SELECT doc_id, source,
       |         CAST(floor(-ln(0.75 * (coalesce(c2.c2, 0) / coalesce(c1.c1, 1))
       |                        + 0.25 * ((coalesce(uni.u2, 0) + 1.0) / (n + v)))
       |                    * $SurprisalScale) AS BIGINT) AS s2
       |  FROM valbg LEFT JOIN c2 USING (w1, w2)
       |             LEFT JOIN c1 USING (w1)
       |             LEFT JOIN uni USING (w2), totals),
       |$surprisalCensusTailSql""".stripMargin

  // -------------------------------------------------- lexical diversity

  /** Lexical-diversity census (q108): per-source type/token/hapax
    * rates — the vocabulary-richness signal curation pipelines use to
    * catch template farms and boilerplate feeds (a source whose
    * type-token ratio collapses is emitting near-identical text even
    * when no two documents are literal duplicates). Per source:
    * token count, type (distinct-token) count, hapax count (types
    * seen exactly once in that source), TTR and hapax share in
    * integer ppm — nothing float crosses the engine boundary.
    *
    * Scale shape: the corpus is scanned once and compacted by ONE
    * hash-aggregate on (source, token) — map-side combine collapses
    * each partition to its local vocabulary before the shuffle, so
    * shuffle rows are O(sources × vocab), not O(corpus tokens); the
    * per-source census then re-aggregates that bounded table. The
    * Zipf head ("the", "a") concentrates *pre-combine* counts, not
    * shuffle keys — partial aggregation absorbs the skew, no salting
    * needed (contrast q42, where the skewed key itself is the
    * grouping output).
    */
  /** The census tail over a (source, t, freq) lexicon frame — shared
    * by batch q108 and the incremental snapshot
    * (Streams.lexicalDiversitySnapshot) so the two cannot drift. */
  def lexicalCensusFrom(tf: DataFrame): DataFrame =
    tf.groupBy(col("source"))
      .agg(sum(col("freq")).cast("long").as("tokens"),
        count(lit(1)).as("types"),
        count(when(col("freq") === 1, 1)).as("hapax"))
      .withColumn("ttr_ppm", expr("types * 1000000 div tokens"))
      .withColumn("hapax_ppm", expr("hapax * 1000000 div types"))

  /** The per-batch lexicon partial: (source, token, freq) — counts
    * are SUM-mergeable across batches, so the incremental index can
    * re-aggregate to the exact corpus lexicon at any point. */
  def sourceLexicon(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(TextOps.tokens(col("text"))).as("t"))
      .groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("freq"))

  def q108LexicalDiversity(s: SparkSession, dir: String): DataFrame =
    lexicalCensusFrom(sourceLexicon(Tables.documents(s, dir)))
  val q108Sql: String =
    """WITH tok AS (
      |  SELECT source, unnest(str_split(text, ' ')) AS t FROM documents),
      |tf AS (SELECT source, t, count(*) AS freq FROM tok GROUP BY 1, 2)
      |SELECT source, CAST(sum(freq) AS BIGINT) AS tokens,
      |       count(*) AS types,
      |       count(CASE WHEN freq = 1 THEN 1 END) AS hapax,
      |       count(*) * 1000000 // CAST(sum(freq) AS BIGINT) AS ttr_ppm,
      |       count(CASE WHEN freq = 1 THEN 1 END) * 1000000 // count(*) AS hapax_ppm
      |FROM tf GROUP BY 1""".stripMargin

  // -------------------------------------------------- chunking (q121)

  /** Overlapping-window chunking census (q121): the RAG / long-context
    * preprocessing step — every document is cut into fixed-width
    * character windows (W=200) on a fixed stride (S=150, so 50 chars
    * of overlap), and the chunk inventory is censused per source:
    * chunk counts, DISTINCT chunk fingerprints, the exact-duplicate
    * chunk rate, and the mean chunk width. Chunk-level duplication is
    * a different signal from q24's doc-level one — boilerplate
    * headers/footers duplicate at chunk grain long before whole
    * documents collide, and a retrieval index built on these chunks
    * pays for every duplicate embedded.
    *
    * Scale shape: the fan-out is a bounded per-row `sequence` explode
    * (≤⌈len/S⌉ chunks per doc) followed by scan-side substring+md5 —
    * no shuffle carries chunk TEXT, only the 16-byte fingerprint
    * crosses (the q24 discipline); distinct-per-source is one
    * hash-aggregate on (source, fp) with map-side combine, then the
    * O(sources) census. At 100 TB the explode multiplies the scan
    * ~len/S× but nothing else: no corpus-scale sort, no pairwise
    * comparison, and the substring never leaves its partition.
    */
  private val ChunkW = 200
  private val ChunkS = 150

  /** (source, doc_id, chunk) frame of the overlapping retrieval
    * windows — the chunk inventory shared by the q121 census and the
    * q135 KMV distinct sketch, so "a chunk" can never mean two
    * different cuts. Frame-parameterized so the incremental sketch
    * (Streams.incrementalKmv) cuts micro-batches identically. */
  private[graft] def docChunksOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("len", length(col("text")))
      .select(col("source"), col("doc_id"),
        explode(sequence(lit(0), greatest(col("len") - 1, lit(0)),
          lit(ChunkS))).as("off"),
        col("text"))
      .select(col("source"), col("doc_id"),
        expr(s"substring(text, off + 1, $ChunkW)").as("chunk"))

  private[graft] def docChunks(s: SparkSession, dir: String): DataFrame =
    docChunksOf(Tables.documents(s, dir))

  /** The q121/q135 chunk CTE (DuckDB spelling of [[docChunks]]). */
  private[graft] val chunksSqlCte: String =
    s"""ch AS (
       |  SELECT source, doc_id,
       |         substr(text, off + 1, $ChunkW) AS chunk
       |  FROM (SELECT source, doc_id, text,
       |               unnest(generate_series(0,
       |                 greatest(length(text) - 1, 0), $ChunkS)) AS off
       |        FROM documents))""".stripMargin

  def q121DocChunks(s: SparkSession, dir: String): DataFrame = {
    val chunks = docChunks(s, dir)
      .select(col("source"), col("doc_id"),
        md5(col("chunk").cast("binary")).as("fp"),
        length(col("chunk")).as("clen"))
    chunks.groupBy(col("source"))
      .agg(count(lit(1)).as("chunks"),
        countDistinct(col("doc_id")).as("docs"),
        countDistinct(col("fp")).as("distinct_chunks"),
        sum(col("clen")).cast("long").as("chunk_chars"))
      .withColumn("dup_ppm",
        expr("(chunks - distinct_chunks) * 1000000 div chunks"))
      .withColumn("mean_chunk_chars", expr("chunk_chars div chunks"))
  }
  val q121Sql: String =
    s"""WITH $chunksSqlCte,
       |fp AS (SELECT source, doc_id, md5(chunk) AS fp,
       |              length(chunk) AS clen FROM ch),
       |cen AS (
       |  SELECT source, count(*) AS chunks,
       |         count(DISTINCT doc_id) AS docs,
       |         count(DISTINCT fp) AS distinct_chunks,
       |         CAST(sum(clen) AS BIGINT) AS chunk_chars
       |  FROM fp GROUP BY 1)
       |SELECT source, chunks, docs, distinct_chunks, chunk_chars,
       |       (chunks - distinct_chunks) * 1000000 // chunks AS dup_ppm,
       |       chunk_chars // chunks AS mean_chunk_chars
       |FROM cen""".stripMargin

  // -------------------------------------------------- mask plan (q126)

  /** Deterministic MLM masking manifest (q126): the span-corruption /
    * masked-LM data-prep step — each token position is masked iff a
    * position-owned hash says so (md5(doc_id:pos) % 100 < 15, the BERT
    * 15% rate), so the SAME document always yields the SAME mask on
    * any engine, any partitioning, any rerun (the q54 row-owned-hash
    * discipline, at token grain). Census per source: positions, masked
    * positions, realized mask rate in ppm, and masked SPAN STARTS
    * (masked position whose predecessor is unmasked) — the span count
    * is what a T5-style objective actually consumes, and rate≈15% with
    * spans≈rate·(1−rate)·n is the sanity envelope.
    *
    * Scale shape: posexplode fans out scan-side; the mask decision is
    * a codegen'd hash on (doc_id, pos) — no RNG state, no shuffle to
    * coordinate; span starts come from the pos-1 hash recomputed in
    * place (NOT a self-join or window — hashes are cheaper than
    * sorts); the only exchange is the O(sources) census rollup.
    */
  private def maskHash(docId: Column, pos: Column): Column =
    conv(substring(md5(concat_ws(":", docId.cast("string"),
      pos.cast("string")).cast("binary")), 1, 8), 16, 10)
      .cast("long") % 100
  def q126MaskPlan(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "t")))
      .withColumn("m", (maskHash(col("doc_id"), col("pos")) < 15).cast("long"))
      .withColumn("prev_m",
        when(col("pos") === 0, lit(0L)).otherwise(
          (maskHash(col("doc_id"), col("pos") - 1) < 15).cast("long")))
    toks.groupBy(col("source"))
      .agg(count(lit(1)).as("positions"),
        sum(col("m")).cast("long").as("masked"),
        sum(col("m") * (lit(1L) - col("prev_m"))).cast("long")
          .as("mask_spans"))
      .withColumn("mask_ppm", expr("masked * 1000000 div positions"))
  }
  val q126Sql: String = {
    def h(posExpr: String) =
      "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || " +
        s"CAST($posExpr AS VARCHAR)), 1, 8) AS BIGINT) % 100"
    s"""WITH tok AS (
       |  SELECT source, doc_id,
       |         unnest(str_split(text, ' ')) AS t,
       |         CAST(generate_subscripts(str_split(text, ' '), 1) - 1
       |              AS BIGINT) AS pos
       |  FROM documents),
       |m AS (
       |  SELECT source, doc_id, pos,
       |         CASE WHEN ${h("pos")} < 15 THEN 1 ELSE 0 END AS m,
       |         CASE WHEN pos = 0 THEN 0
       |              WHEN ${h("pos - 1")} < 15 THEN 1 ELSE 0 END AS prev_m
       |  FROM tok)
       |SELECT source, count(*) AS positions,
       |       CAST(sum(m) AS BIGINT) AS masked,
       |       CAST(sum(m * (1 - prev_m)) AS BIGINT) AS mask_spans,
       |       CAST(sum(m) AS BIGINT) * 1000000 // count(*) AS mask_ppm
       |FROM m GROUP BY 1""".stripMargin
  }

  // -------------------------------------------------- curriculum (q127)

  /** Curriculum deciles (q127): rank every document by an integer
    * lexical-quality score (per-doc type-token ratio in permille — the
    * q108 signal at document grain) and cut the corpus into 10 ntile
    * buckets; per decile: docs, token mass, and the score envelope.
    * This is the curriculum-ordering manifest — train easy-to-hard (or
    * filter the bottom decile) — and the decile edges are what a
    * data-mixing config actually records.
    *
    * Determinism: the score is integer permille and the ntile ordering
    * tie-breaks on doc_id, so bucket assignment is total-order exact on
    * both engines — no float crosses the cut.
    *
    * Scale shape: the score is scan-side (one array pass per doc);
    * ntile over the full corpus is the one global sort — the honest
    * spelling of "global deciles" (range-partitioned sort, the same
    * machinery as any ORDER BY at scale). For 100 TB you'd swap the
    * exact ntile for approx percentile edges broadcast back as a
    * CASE cut (the q88 winsorize pattern) — the census shape is
    * unchanged; the exact spelling IS the oracle-checkable one.
    */
  def q127CurriculumDeciles(s: SparkSession, dir: String): DataFrame =
    exactDecileCensus(curriculumScored(s, dir))

  /** The q127 per-doc score frame (doc_id, toks, score_pm) — shared by
    * the exact-ntile and histogram decile spellings (one scoring
    * definition, so the two branches of the q181 selector can never
    * drift). */
  private def curriculumScored(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("toks"),
        size(array_distinct(TextOps.tokens(col("text")))).cast("long")
          .as("types"))
      .withColumn("score_pm", expr("types * 1000 div toks"))
      .drop("types")

  /** q127's census tail, exact-ntile spelling: ONE global sort. */
  private[graft] def exactDecileCensus(scored: DataFrame): DataFrame =
    scored.withColumn("decile",
        ntile(10).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score_pm"), col("doc_id"))))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("docs"),
        sum(col("toks")).cast("long").as("tokens"),
        min(col("score_pm")).as("min_score_pm"),
        max(col("score_pm")).as("max_score_pm"))

  /** q127's census, SORT-FREE histogram spelling — the at-scale branch
    * the q127 scaladoc promises, made EXACT (not approx-percentile):
    * the score domain is integer permille (≤1001 values), so
    *   1. the corpus compacts map-side to the (score_pm → docs,
    *      tokens) histogram (the q88 discipline), and an exclusive
    *      prefix over that TINY frame gives every class its global
    *      rank interval [p+1, p+cdocs];
    *   2. ntile bucket boundaries are pure arithmetic on (n, rank):
    *      base = n div 10, rem = n mod 10, first `rem` deciles hold
    *      base+1 rows — a class whose interval lies inside one decile
    *      contributes WHOLE (no doc-grain work at all);
    *   3. only classes STRADDLING a decile edge (≤9 of them) resolve
    *      at doc grain, and their in-class rank — ntile's (score_pm,
    *      doc_id) order, within the class = doc_id order — rides the
    *      q169 two-pass bucket prefix (doc_id div [[graft.queries
    *      .Selection.BudgetBucket]] buckets), so no window partition
    *      ever exceeds ~4096 docs even when ONE score value dominates
    *      the corpus (the hot-class failure mode of "window over the
    *      boundary class", designed out as in q169).
    * Output is bit-identical to [[exactDecileCensus]] by construction:
    * decile(rank) decomposes exactly into class prefix + in-class
    * doc_id rank. The only ordered structures are the ≤1001-row class
    * frame and ≤9 broadcast joins — nothing corpus-ordered. */
  private[graft] def histogramDecileCensus(scoredRaw: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // two consumers (class histogram + boundary join-back): one scan,
    // not two (the q169 materialization note)
    val scored = scoredRaw.localCheckpoint(true)
    val classes = scored.groupBy(col("score_pm"))
      .agg(count(lit(1)).as("cdocs"), sum(col("toks")).as("ctoks"))
    val tot = classes.agg(sum(col("cdocs")).as("n"))
    // tiny frame: ≤1001 rows (the permille score domain) — the q166
    // suffix-frame discipline; the deliberate single-partition window
    // is score-bounded, never corpus-bounded
    val prefix = Window.orderBy(col("score_pm"))
      .rowsBetween(Window.unboundedPreceding, -1)
    def tile(r: String): String =
      s"""CASE WHEN base = 0 OR ($r) <= rem * (base + 1)
         |THEN (($r) + base) div (base + 1)
         |ELSE rem + (($r) - rem * (base + 1) + base - 1) div base
         |END""".stripMargin
    val typed = classes.crossJoin(broadcast(tot))
      .withColumn("p", coalesce(sum(col("cdocs")).over(prefix), lit(0L)))
      .withColumn("base", expr("n div 10"))
      .withColumn("rem", expr("n % 10"))
      .withColumn("t1", expr(tile("p + 1")))
      .withColumn("t2", expr(tile("p + cdocs")))
    val whole = typed.filter(col("t1") === col("t2"))
      .select(col("t1").as("decile"), col("cdocs").as("docs"),
        col("ctoks").as("tokens"),
        col("score_pm").as("mn"), col("score_pm").as("mx"))
    val bdyCls = typed.filter(col("t1") =!= col("t2"))
      .select(col("score_pm"), col("p"), col("base"), col("rem"))
    val bdyDocs = scored.join(broadcast(bdyCls), Seq("score_pm"))
      .withColumn("bb",
        expr(s"doc_id div ${graft.queries.Selection.BudgetBucket}"))
    val bucketPrefix = bdyDocs.groupBy(col("score_pm"), col("bb"))
      .agg(count(lit(1)).as("bc"))
      .withColumn("q", coalesce(sum(col("bc")).over(
        Window.partitionBy(col("score_pm")).orderBy(col("bb"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("score_pm"), col("bb"), col("q"))
    val bdy = bdyDocs.join(broadcast(bucketPrefix), Seq("score_pm", "bb"))
      .withColumn("w", row_number().over(
        Window.partitionBy(col("score_pm"), col("bb"))
          .orderBy(col("doc_id"))).cast("long"))
      .withColumn("decile", expr(tile("p + q + w")))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("docs"), sum(col("toks")).as("tokens"),
        min(col("score_pm")).as("mn"), max(col("score_pm")).as("mx"))
    whole.unionByName(bdy)
      .groupBy(col("decile"))
      .agg(sum(col("docs")).as("docs"),
        sum(col("tokens")).as("tokens"),
        min(col("mn")).as("min_score_pm"), max(col("mx")).as("max_score_pm"))
      .select(col("decile").cast("int").as("decile"), col("docs"),
        col("tokens"), col("min_score_pm"), col("max_score_pm"))
  }

  /** Curriculum plan auto-selector (q181) — the q154 measured-selector
    * discipline applied to the board's one honest global sort: q127's
    * exact ntile is the right plan while the corpus fits a sort
    * comfortably; past that, [[histogramDecileCensus]] computes the
    * IDENTICAL census with no corpus ORDER BY. The probe is the global
    * document count (the exact quantity that prices the sort — one
    * column-pruned count over parquet row-group metadata, orders
    * cheaper than either branch). Both branches are bit-identical by
    * construction, so the choice is a pure physical-plan decision and
    * the oracle (q127Sql) is branch-independent — the q154 contract. */
  def q181CurriculumAuto(s: SparkSession, dir: String,
                         sortCeiling: Long = 10000000L): DataFrame = {
    val scored = curriculumScored(s, dir)
    val n = Tables.documents(s, dir).select(col("doc_id")).count()
    if (n <= sortCeiling) exactDecileCensus(scored)
    else histogramDecileCensus(scored)
  }
  val q127Sql: String =
    """WITH scored AS (
      |  SELECT doc_id,
      |         CAST(len(str_split(text, ' ')) AS BIGINT) AS toks,
      |         CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT)
      |           AS types
      |  FROM documents),
      |cut AS (
      |  SELECT doc_id, toks, types * 1000 // toks AS score_pm,
      |         ntile(10) OVER (ORDER BY types * 1000 // toks, doc_id)
      |           AS decile
      |  FROM scored)
      |SELECT decile, count(*) AS docs,
      |       CAST(sum(toks) AS BIGINT) AS tokens,
      |       min(score_pm) AS min_score_pm,
      |       max(score_pm) AS max_score_pm
      |FROM cut GROUP BY 1""".stripMargin

  // -------------------------------------------------- epochs (q136)

  /** Token-budget epoch schedule (q136) — the step after q97's mixture
    * weights that a dataloader actually consumes: given a training
    * budget (here: half the corpus, so both regimes appear), each
    * source's τ-scaled share becomes a target token count, and the
    * target becomes a REPEAT PLAN — full epochs over the source plus
    * a partial final epoch (the LLaMA-recipe "epochs over dataset"
    * column). τ < 1 upsamples small sources, so they earn epochs > 1
    * while the biggest sources train on a fraction of one pass.
    *
    * Scale shape: everything below q97's one corpus hash-agg is
    * O(sources) arithmetic — the budget row broadcast-crosses back,
    * nothing corpus-sized moves. Integerization: targets are exact
    * integer floor products of the published mix_millionths, epochs
    * are ceiling division, the partial-epoch fill is an exact ppm.
    * The budget·mix product IS spelled in DECIMAL(38) (the q137
    * discipline): near the 100 TB design point (~10¹³ tokens × 10⁶
    * millionths) a plain BIGINT product wraps silently in Spark
    * while DuckDB raises — an engine divergence, not just a wrong
    * number. The halving runs in BIGINT first (corpus_tokens < 2⁶³
    * by construction) so the floor sequence matches the published
    * formula exactly; only the multiply is widened.
    */
  def q136EpochSchedule(s: SparkSession, dir: String): DataFrame = {
    val w = q97MixtureWeights(s, dir) // (source, tokens, mix_millionths)
    val tot = w.agg(sum(col("tokens")).as("corpus_tokens"))
    w.crossJoin(broadcast(tot))
      .withColumn("target_tokens",
        expr("""CAST(CAST(corpus_tokens div 2 AS DECIMAL(38,0))
               |  * mix_millionths div 1000000 AS BIGINT)""".stripMargin))
      .withColumn("epochs",
        expr("(target_tokens + tokens - 1) div tokens"))
      // a source whose floored share rounds to zero is EXCLUDED from
      // the run: (epochs, fill) = (0, 0), never "zero epochs, full
      // final epoch" (reachable when source masses span > ~10⁸× under
      // τ=0.7 and mix_millionths floors to 0)
      .withColumn("last_epoch_fill_ppm",
        expr("""CASE WHEN target_tokens = 0 THEN 0
                |ELSE (target_tokens - (epochs - 1) * tokens) * 1000000
                |       div tokens END""".stripMargin))
      .select(col("source"), col("tokens"), col("mix_millionths"),
        col("target_tokens"), col("epochs"), col("last_epoch_fill_ppm"))
  }
  val q136Sql: String =
    s"""WITH $mixtureSqlCtes,
       |tot AS (SELECT CAST(sum(q) AS BIGINT) AS qtot,
       |               CAST(sum(tokens) AS BIGINT) AS corpus_tokens FROM q),
       |w AS (SELECT source, tokens, q * 1000000 // qtot AS mix_millionths,
       |             corpus_tokens
       |      FROM q, tot),
       |t AS (SELECT source, tokens, mix_millionths,
       |        CAST(CAST(corpus_tokens // 2 AS HUGEINT)
       |               * mix_millionths // 1000000 AS BIGINT) AS target_tokens
       |      FROM w),
       |e AS (SELECT source, tokens, mix_millionths, target_tokens,
       |        (target_tokens + tokens - 1) // tokens AS epochs
       |      FROM t)
       |SELECT source, tokens, mix_millionths, target_tokens, epochs,
       |       CASE WHEN target_tokens = 0 THEN 0
       |       ELSE (target_tokens - (epochs - 1) * tokens) * 1000000
       |              // tokens END AS last_epoch_fill_ppm
       |FROM e""".stripMargin

  // -------------------------------------------------- PMI pairs (q137)

  /** How many top association pairs q137 publishes. */
  private[graft] val PmiTopK = 20

  /** Pointwise-mutual-information association pairs (q137): the
    * collocation miner — which adjacent token pairs co-occur far more
    * than their marginals predict (the word2vec-era PMI table, the
    * signal behind multi-word-expression detection and tokenizer
    * merge candidates). Lift is published as an exact scaled integer,
    * lift_ppm = c₂·N·10⁶ ÷ (c₁·c_r) — the monotone exp(PMI) transform
    * — so no engine ever takes a logarithm and the oracle matches
    * bit-for-bit (stricter than q95's ln convention).
    *
    * Scale shape: bigrams build scan-side (the q95 zip_with spelling,
    * shared [[bigramsOf]]); ONE corpus-grain hash-agg makes the
    * O(distinct pairs) count table; both marginals and N re-aggregate
    * THAT table (O(vocab) / O(1), never the corpus — the q95 c1
    * discipline); the marginal joins broadcast. The final global
    * top-K window sorts only the model-sized pair table — bounded by
    * vocab², not by the corpus. The lift product is spelled in
    * DECIMAL(38,0): c₂·N·10⁶ overflows a long for any corpus past
    * ~10¹² bigrams, and the floor-div must happen on the exact
    * integer product, not a double.
    */
  def q137PmiPairs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens(col("text")))
    val c2 = bigramsOf(d).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val cr = c2.groupBy(col("w2")).agg(sum(col("c2")).as("cr"))
    val n = c2.agg(sum(col("c2")).as("n"))
    val lifted = c2
      .join(broadcast(c1), Seq("w1"))
      .join(broadcast(cr), Seq("w2"))
      .crossJoin(broadcast(n))
      .withColumn("lift_ppm", expr(
        """CAST(CAST(c2 AS DECIMAL(38,0)) * n * 1000000
          |  div (CAST(c1 AS DECIMAL(38,0)) * cr) AS BIGINT)""".stripMargin))
    val topk = org.apache.spark.sql.expressions.Window
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
    lifted.withColumn("rnk", row_number().over(topk))
      .filter(col("rnk") <= PmiTopK)
      .select(col("rnk"), col("w1"), col("w2"), col("c2"), col("lift_ppm"))
  }
  val q137Sql: String =
    s"""WITH tk AS (
       |  SELECT str_split(text, ' ') AS toks FROM documents),
       |bg AS ${bigramsSqlCte("", "tk")},
       |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
       |cr AS (SELECT w2, CAST(sum(c2) AS BIGINT) AS cr FROM c2 GROUP BY 1),
       |n AS (SELECT CAST(sum(c2) AS BIGINT) AS n FROM c2),
       |l AS (SELECT w1, w2, c2,
       |        CAST(CAST(c2 AS HUGEINT) * n * 1000000
       |          // (CAST(c1 AS HUGEINT) * cr) AS BIGINT) AS lift_ppm
       |      FROM c2 JOIN c1 USING (w1) JOIN cr USING (w2), n),
       |r AS (SELECT *, row_number() OVER (
       |        ORDER BY lift_ppm DESC, w1, w2) AS rnk FROM l)
       |SELECT rnk, w1, w2, c2, lift_ppm FROM r WHERE rnk <= $PmiTopK""".stripMargin

  /** Classifier-calibration census (q201) — the reliability diagram
    * behind every "quality/language classifier gated this corpus"
    * claim: a filter whose scores are miscalibrated silently skews the
    * admitted mixture, so the census a curation pipeline wants is
    * per-confidence-bin (predicted vs realized) rates, the table an
    * expected-calibration-error (ECE) number is read off of. The
    * predictor under audit is deterministic — P(english) ≈
    * least(999, stopword_count·4000 div tokens) permille (the q21
    * langid family's marker evidence, rescaled) — and the realized
    * outcome is the corpus's own lang label, so the census measures a
    * real (and really miscalibrated) classifier with no RNG in the
    * loop. Per bin (pred div 100): docs, mean predicted permille,
    * positives, realized permille, |gap| permille.
    *
    * Scale shape: marker counting is the codegen'd [[graft.functions
    * .MarkerCount]] kernel scan-side, then ONE hash-agg on a ≤10-key
    * bin column — map-side partials collapse every partition to ≤10
    * rows before the shuffle; all arithmetic is integer (permille),
    * so the oracle comparison is exact. The census is O(bins)
    * however large the corpus; ECE itself is a driver-side fold over
    * 10 rows. */
  /** Per-bin SUM partials of the calibration census (bin, n, Σpred,
    * positives) over any documents frame — the q210 ingest twin lands
    * exactly this per micro-batch; [[calibrationFrom]] derives the
    * ratio columns only AFTER the merge (means of sums, never sums of
    * means — the arithmetic reason the census is mergeable at all). */
  def calibrationPartials(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("stopn",
        TextOps.markerCount(col("toks"), TextOps.enMarkers).cast("long"))
      .select(expr("least(999L, stopn * 4000 div size(toks))").as("pred_pm"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy(expr("pred_pm div 100").as("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pred_pm")).as("pred_sum"),
        sum(col("pos")).as("positives"))

  /** The reliability table from (merged) bin partials. */
  def calibrationFrom(partials: DataFrame): DataFrame =
    partials
      .withColumn("mean_pred_pm", expr("pred_sum div n_docs"))
      .withColumn("actual_pm", expr("positives * 1000 div n_docs"))
      .withColumn("gap_pm", abs(col("mean_pred_pm") - col("actual_pm")))
      .select(col("bin"), col("n_docs"), col("mean_pred_pm"),
        col("positives"), col("actual_pm"), col("gap_pm"))

  def q201CalibrationBins(s: SparkSession, dir: String): DataFrame =
    calibrationFrom(calibrationPartials(Tables.documents(s, dir)))
  val q201Sql: String = {
    val toks = "str_split(text, ' ')"
    val stop = "len(list_filter(str_split(text, ' '), t -> t IN " +
      "('the','and','of','to','a')))"
    s"""WITH sc AS (
       |  SELECT least(999, $stop * 4000 // len($toks)) AS pred_pm,
       |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
       |  FROM documents),
       |c AS (
       |  SELECT pred_pm // 100 AS bin, count(*) AS n_docs,
       |         CAST(sum(pred_pm) AS BIGINT) // count(*) AS mean_pred_pm,
       |         CAST(sum(pos) AS BIGINT) AS positives
       |  FROM sc GROUP BY 1)
       |SELECT bin, n_docs, mean_pred_pm, positives,
       |       positives * 1000 // n_docs AS actual_pm,
       |       abs(mean_pred_pm - positives * 1000 // n_docs) AS gap_pm
       |FROM c""".stripMargin
  }
}
