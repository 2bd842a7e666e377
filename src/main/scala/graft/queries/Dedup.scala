package graft.queries

import graft.Tables
import graft.ops.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication pipeline over documents (north-star extension):
  * exact (fingerprint hash), MinHash+LSH banding, n-gram Jaccard
  * verification, and SimHash — the standard pretraining-dedup ladder.
  *
  * Scale design: every stage is shuffle-minimal —
  * - exact dedup: one hash-aggregate on the 16-byte fingerprint, never
  *   on the full text;
  * - MinHash: signatures are computed scan-side with array HOFs (no
  *   explode → no row blow-up), then ONE shuffle on (band, signature);
  *   candidate generation touches only buckets with >1 doc, so the
  *   all-pairs O(n²) never materializes;
  * - Jaccard verify runs only on LSH candidates (here: a bounded
  *   doc_id sample so the oracle stays cheap).
  * All hashes are md5 → bit-identical in the DuckDB oracle.
  */
object Dedup {

  /** Exact dedup summary: corpus size vs distinct canonical
    * fingerprints (single row). */
  def q25ExactDedup(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(TextOps.fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("total_docs"),
        countDistinct(col("fp")).as("distinct_docs"))
      .withColumn("dup_docs", col("total_docs") - col("distinct_docs"))
  }
  val q25Sql: String =
    """SELECT count(*) AS total_docs,
      |       count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
      |         AS distinct_docs,
      |       count(*) - count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
      |         AS dup_docs
      |FROM documents""".stripMargin

  // graft-visible: the streaming ladder's history reads derive their
  // literal band partition filters from the geometry itself (every
  // signed doc emits ALL bands — see bandedSignaturesGeom), not from a
  // per-batch distinct-collect of a structurally constant set
  private[graft] val NumBands = 4 // b
  private val RowsPerBand = 2 // r

  /** Per-document MinHash band signatures with b=4 bands × r=2 hash
    * rows: a band's signature is the concatenation of r independent
    * min-hashes, so two docs collide in a band only if ALL r min-hashes
    * agree — the standard (1-(1-s^r)^b) s-curve: with r=2,b=4, ~89%
    * recall at Jaccard 0.8 but only ~4% at 0.3 (r=1 would flag ~76% of
    * 0.3-similar pairs — far too loose).
    *
    * All 8 min-hashes come from the native one-digest-per-shingle
    * kernel [[graft.functions.MinHashBands]] — the affine permutation
    * family (Aₖ·x + Bₖ) mod P with DISTINCT multipliers; see the
    * kernel's scaladoc for why a shared-slope family is wrong — one
    * scan-stage pass, no explode, no per-hash salting passes.
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    minhashSignaturesGeom(docs, NumBands, RowsPerBand)

  /** [[minhashSignatures]] with the band GEOMETRY as a parameter —
    * the reindex-while-serving migration (q231) rebuilds the index
    * under a different (b, r) point on the s-curve from the same
    * 8-hash kernel family (b·r ≤ 8: the hash functions are fixed and
    * oracle-inlined; geometry only regroups them into bands). */
  def minhashSignaturesGeom(docs: DataFrame, numBands: Int,
                            rowsPerBand: Int): DataFrame = {
    // PERF: tokens and shingles are staged as real columns, NOT inlined
    // into the kernel call. An expression inside a higher-order-
    // function lambda is re-evaluated per array element, so inlining
    // `split(text)` into the shingle lambda re-tokenizes the doc once
    // per shingle — O(tokens²) per doc (measured: 124s → 3s at sf0.1).
    // As attributes, the lambda body reads a row field in O(1), and
    // CollapseProject keeps the staging (non-cheap exprs referenced
    // more than once are never collapsed back).
    require(numBands * rowsPerBand <= graft.functions.MinHashKernel.A.length,
      s"geometry $numBands×$rowsPerBand exceeds the fixed hash family")
    val bandCols = (0 until numBands).map { b =>
      concat_ws("|", (0 until rowsPerBand).map { r =>
        col("mh").getItem(b * rowsPerBand + r).cast("string")
      }: _*).as(s"band$b")
    }
    // shingling is FUSED into the kernel (bandsOfGrams): each 3-gram
    // is built and digested on the fly — no shingle array in the plan,
    // no interpreted transform pass; the staged-HOF path is pinned
    // equal in MinHashSpec
    docs.withColumn("toks", TextOps.tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .withColumn("mh", graft.functions.MinHashFunctions.ngram_minhash_bands(
        col("toks"), 3, numBands * rowsPerBand))
      .select(col("doc_id") +: bandCols: _*)
  }

  /** (doc_id, band, sig) — one row per document per band: the LSH
    * index frame shared by the bucket census (q26) and the end-to-end
    * verified pipeline (q44). The ×NumBands explode happens AFTER
    * signatures are reduced scan-side, so what blows up is 4 short
    * hash strings per doc, never text or shingles. */
  def bandedSignatures(docs: DataFrame): DataFrame =
    bandedSignaturesGeom(docs, NumBands, RowsPerBand)

  /** [[bandedSignatures]] under an explicit (b, r) geometry — q231's
    * migration signs the same corpus at a different s-curve point. */
  def bandedSignaturesGeom(docs: DataFrame, numBands: Int,
                           rowsPerBand: Int): DataFrame =
    minhashSignaturesGeom(docs, numBands, rowsPerBand).select(col("doc_id"),
      explode(array((0 until numBands).map(b =>
        struct(lit(b).as("band"), col(s"band$b").as("sig"))): _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))

  /** MinHash+LSH bucket census: buckets (band, signature) holding >1
    * doc are the near-duplicate candidates. Emitting the census (not
    * the pairs) keeps output size O(buckets) — pair explosion stays
    * inside the engine where AQE can split skewed buckets.
    */
  def q26MinhashBuckets(s: SparkSession, dir: String): DataFrame = {
    bandedSignatures(Tables.documents(s, dir))
      .groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("bucket_size"), min(col("doc_id")).as("min_doc_id"))
      .filter(col("bucket_size") > 1)
  }
  /** DuckDB spelling of [[bandedSignatures]] — the `stacked` CTE body
    * shared by the q26/q44/q46 oracles, parametrized by the corpus
    * relation so composed pipelines (q50) can band a filtered set. */
  private def stackedSqlCteFrom(from: String): String =
    stackedSqlCteGeom(from, NumBands, RowsPerBand)

  /** [[stackedSqlCteFrom]] under an explicit (b, r) geometry — the
    * oracle spelling of [[bandedSignaturesGeom]] (q231's migration
    * target geometry). */
  private def stackedSqlCteGeom(from: String, numBands: Int,
                                rowsPerBand: Int): String = {
    val toks = "str_split(text, ' ')"
    val shingles =
      s"""list_transform(range(1, len($toks) - 1),
         |               i -> array_to_string(list_slice($toks, i, i + 2), ' '))""".stripMargin
    // hₖ(x) = (Aₖ·x + Bₖ) mod P with x the first md5 word — the DuckDB
    // spelling of graft.functions.MinHashKernel, constants inlined
    import graft.functions.MinHashKernel.{A, B, Prime}
    def hash(k: Int): String =
      s"(${A(k)} * CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) + ${B(k)}) % $Prime"
    def band(b: Int): String = {
      val rows = (0 until rowsPerBand).map { r =>
        s"CAST(list_min(list_transform($shingles, g -> ${hash(b * rowsPerBand + r)})) AS VARCHAR)"
      }.mkString(" || '|' || ")
      s"""SELECT doc_id, $b AS band, $rows AS sig
         |FROM $from WHERE len($toks) >= 3""".stripMargin
    }
    (0 until numBands).map(band).mkString("\nUNION ALL\n")
  }

  /** `stacked, pairs` CTE chain under an explicit geometry — the
    * candidate set [[bandedSignaturesGeom]] induces, as SQL. */
  def candidatePairsSqlCtesGeom(from: String, numBands: Int,
                                rowsPerBand: Int): String =
    s"""stacked AS (${stackedSqlCteGeom(from, numBands, rowsPerBand)}),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM stacked a JOIN stacked b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)""".stripMargin
  private val stackedSqlCte: String = stackedSqlCteFrom("documents")

  val q26Sql: String =
    s"""WITH stacked AS ($stackedSqlCte)
       |SELECT band, sig, count(*) AS bucket_size, min(doc_id) AS min_doc_id
       |FROM stacked GROUP BY 1, 2 HAVING count(*) > 1""".stripMargin

  /** n-gram Jaccard near-dup verification on a bounded id-range sample:
    * distinct shingles per doc, self-join on shingle, |∩| / |∪| ≥ 0.5.
    * This is the standalone Jaccard operator on a dense sample (every
    * pair in range is considered); the production pipeline — candidates
    * from LSH, then verified — is [[q44LshVerifiedPairs]].
    */
  def q27JaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 300)
      .withColumn("toks", TextOps.tokens(col("text"))) // staged: see minhashSignatures
      .select(col("doc_id"),
        explode(graft.functions.NGramSetFunctions.ngram_set(col("toks"), 3))
          .as("shingle"))
    val sizes = docs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
    val inter = docs.as("a")
      .join(docs.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_shingles", "size_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_shingles", "size_b"), "doc_b")
      .withColumn("jaccard",
        round(col("inter") / (col("size_a") + col("size_b") - col("inter")), 3))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }
  val q27Sql: String =
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(str_split(text, ' ')) - 1),
      |      i -> array_to_string(list_slice(str_split(text, ' '), i, i + 2), ' '))))
      |    AS shingle
      |  FROM documents WHERE doc_id < 300 AND len(str_split(text, ' ')) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |       round(inter / (sa.n_shingles + sb.n_shingles - inter), 3) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE round(inter / (sa.n_shingles + sb.n_shingles - inter), 3) >= 0.5""".stripMargin

  /** Containment near-dup pairs (q66) — the ASYMMETRIC companion to
    * q27's Jaccard: C(a→b) = |shset_a ∩ shset_b| / |shset_a| catches
    * a SMALL document embedded in a big one (quotes, boilerplate
    * wrappers, page-of-pages crawls), which symmetric Jaccard dilutes
    * toward 0 as |b| grows. Directed pairs at integer-percent ≥ 80 on
    * the same dense id-range sample as q27 — exact semantics; the
    * scale path for containment is a size-stratified LSH forest (LSH
    * Ensemble, Zhu et al., VLDB 2016), whose verify stage is exactly
    * this query over its candidates, the way q44 verifies q26's.
    */
  def q66ContainmentPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 300)
      .withColumn("toks", TextOps.tokens(col("text"))) // staged: see minhashSignatures
      .select(col("doc_id"),
        explode(graft.functions.NGramSetFunctions.ngram_set(col("toks"), 3))
          .as("shingle"))
    val sizes = docs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
    val inter = docs.as("a")
      .join(docs.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_shingles", "size_a"), "doc_a")
      .withColumn("containment_pct",
        (col("inter") * 100 / col("size_a")).cast("long"))
      .filter(col("containment_pct") >= 80)
      .select(col("doc_a"), col("doc_b"), col("containment_pct"))
  }
  val q66Sql: String =
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(str_split(text, ' ')) - 1),
      |      i -> array_to_string(list_slice(str_split(text, ' '), i, i + 2), ' '))))
      |    AS shingle
      |  FROM documents WHERE doc_id < 300 AND len(str_split(text, ' ')) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |       100 * inter // sa.n_shingles AS containment_pct
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |WHERE 100 * inter // sa.n_shingles >= 80""".stripMargin

  /** The dedup ladder end-to-end in ONE plan — what a pretraining
    * pipeline actually runs at 100 TB: LSH buckets → candidate pairs →
    * n-gram Jaccard verification of exactly those candidates.
    *
    * Stage shapes:
    *  1. candidates: self-join of [[bandedSignatures]] on (band, sig)
    *     with `a.doc_id < b.doc_id` — pairs materialize only INSIDE
    *     buckets (never all-pairs; a skewed bucket is an AQE skew-join
    *     split, not a cross product), then `distinct` collapses pairs
    *     that collide in several bands. Shuffle key: (band, sig).
    *  2. verify: join the (small) pair list back to per-doc DISTINCT
    *     shingle sets and score |∩|/|∪| with `array_intersect` — only
    *     candidate docs' shingle arrays ever cross the wire, once per
    *     pair occurrence; the corpus text itself never shuffles.
    * Emits every candidate pair WITH its true Jaccard (no threshold) —
    * the output is the LSH precision profile; callers cut at their
    * similarity bar.
    */
  def q44LshVerifiedPairs(s: SparkSession, dir: String): DataFrame =
    verifiedPairs(Tables.documents(s, dir))

  /** The q44 pipeline parametrized by the corpus frame — composable
    * into larger pipelines (q50 runs it on the quality-filtered,
    * exact-deduped survivor set). */
  def verifiedPairs(docs: DataFrame): DataFrame =
    jaccardVerify(lshCandidates(docs), docs)

  /** Stage 1 alone: the LSH candidate pair set (band-collision
    * self-join, distinct across bands). */
  def lshCandidates(docs: DataFrame): DataFrame = {
    val stacked = bandedSignatures(docs)
    stacked.as("a")
      .join(stacked.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Stage 2 alone: true-Jaccard scoring of an explicit candidate
    * pair list against the corpus' shingle sets — also the finalize
    * step over an INCREMENTALLY accumulated pairs log
    * (graft.streaming.Streams.finalizePipeline). */
  /** Per-doc DISTINCT 3-gram shingle sets — the ONE shingle
    * discipline (staging, ≥3-token floor, n=3) shared by the Jaccard
    * verify (q44) and the calibration census (q128), so the exact-
    * similarity axis can never drift between them. */
  def shingleSets(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", TextOps.tokens(col("text"))) // staged: see minhashSignatures
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        graft.functions.NGramSetFunctions.ngram_set(col("toks"), 3).as("shset"))

  /** CONTRACT: `pairs` is DISTINCT (doc_a < doc_b) — every caller
    * dedups (the pair logs' `.distinct()`, [[lshCandidates]]'); the
    * one-pass spelling below collapses to one row per pair either way
    * but would not preserve duplicate multiplicity.
    *
    * One corpus pass, not two (optimization guide §8 — move the heavy
    * bytes once): the old two-join spelling referenced the shingle
    * subtree on BOTH join sides; with the tiny pair side broadcast
    * into both joins there is no exchange on the corpus side, so
    * ReuseExchange cannot dedupe it and the corpus scan + tokenize +
    * shingle ran TWICE. Melting each pair into its two members joins
    * the corpus shingles ONCE; the extra groupBy shuffles only the
    * MATCHED members' shingle sets — O(pairs) rows, the small side by
    * construction at any scale. */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val sh = shingleSets(docs)
    pairs.select(col("doc_a"), col("doc_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .join(sh, "doc_id")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("__n"),
        first(when(col("doc_id") === col("doc_a"), col("shset")),
          ignoreNulls = true).as("sa"),
        first(when(col("doc_id") === col("doc_b"), col("shset")),
          ignoreNulls = true).as("sb"))
      // inner-join semantics: a pair whose member has no shingle row
      // (under 3 tokens, or vacuumed from the live corpus) drops,
      // exactly as the two-join spelling dropped it
      .filter(col("__n") === 2)
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") /
          (size(col("sa")) + size(col("sb")) - col("inter")), 3)
          .as("jaccard"))
  }
  /** CTE chain `stacked, pairs, sh, scored` spelling [[verifiedPairs]]
    * over an arbitrary corpus relation — `scored` has
    * (doc_a, doc_b, jaccard). Shared by the q44/q46/q50 oracles. */
  def verifiedPairsSqlCtes(from: String): String = {
    val toks = "str_split(text, ' ')"
    s"""stacked AS (${stackedSqlCteFrom(from)}),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM stacked a JOIN stacked b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |sh AS (
       |  SELECT doc_id, list_distinct(
       |    list_transform(range(1, len($toks) - 1),
       |      i -> array_to_string(list_slice($toks, i, i + 2), ' '))) AS shset
       |  FROM $from WHERE len($toks) >= 3),
       |scored AS (
       |  SELECT doc_a, doc_b,
       |         round(len(list_intersect(sa.shset, sb.shset)) /
       |               (len(sa.shset) + len(sb.shset)
       |                - len(list_intersect(sa.shset, sb.shset))), 3) AS jaccard
       |  FROM pairs
       |  JOIN sh sa ON doc_a = sa.doc_id
       |  JOIN sh sb ON doc_b = sb.doc_id)""".stripMargin
  }
  val q44Sql: String =
    s"""WITH ${verifiedPairsSqlCtes("documents")}
       |SELECT doc_a, doc_b, jaccard FROM scored""".stripMargin

  /** The dedup ladder's FINAL rung: cluster assignment. Verified
    * near-dup pairs (q44, Jaccard ≥ 0.5) form an undirected graph;
    * each connected component is "one document" and every member gets
    * the component's min doc_id as cluster_id — the thing a pretraining
    * pipeline actually keeps/drops by (keep cluster_id == doc_id,
    * drop the rest).
    *
    * Algorithm: min-label propagation to fixpoint — labels(x) ←
    * min(labels(x), min over neighbors' labels) per round, converging
    * in diameter(G) rounds. Near-dup components are tiny cliques
    * (diameter 1-2), so 2-3 rounds close the fixpoint; the loop checks
    * convergence with a changed-row count (the only driver-side value
    * per round — no row data ever collects). Each round is one
    * shuffle-join + one aggregate on the EDGE set (O(pairs), not
    * O(corpus)); at 100 TB with adversarial long-chain components,
    * swap the round body for alternating large-star/small-star
    * (O(log n) rounds, same join shapes) — the loop scaffold and
    * convergence test stay identical.
    */
  def q46DedupClusters(s: SparkSession, dir: String): DataFrame =
    clusters(Tables.documents(s, dir))

  /** The near-dup similarity bar — ONE constant for every verified
    * consumer (batch ladder, ingest logs, stress laws); the SQL CTEs
    * spell the same literal. */
  val JaccardBar = 0.5

  /** The verified near-dup edge list (Jaccard ≥ [[JaccardBar]]) — the
    * ONE definition both clustering algorithms (q46 propagation, q55
    * star contraction) consume, so the similarity bar can never drift
    * between them. */
  def verifiedEdges(docs: DataFrame): DataFrame =
    verifiedPairs(docs)
      .filter(col("jaccard") >= JaccardBar)
      .select(col("doc_a"), col("doc_b"))

  /** The SAME bar applied to an ingest-accumulated candidate-pair log
    * (q107/q206/the ingest card/finalizePipeline): distinct the log,
    * verify against the corpus, keep edges at [[JaccardBar]] — one
    * definition, so the ingest consumers can never drift from the
    * batch ladder. */
  def verifiedEdgesFromLog(pairs: DataFrame, corpus: DataFrame): DataFrame =
    jaccardVerify(pairs.select(col("doc_a"), col("doc_b")).distinct(), corpus)
      .filter(col("jaccard") >= JaccardBar)
      .select(col("doc_a"), col("doc_b"))

  /** q46 parametrized by the corpus frame (see [[verifiedPairs]]).
    *
    * Caching note: the returned frame is backed by the final round's
    * persisted label set — O(docs-in-verified-pairs) rows, tiny
    * relative to the corpus. It stays cached so consuming the result
    * doesn't re-run the propagation rounds; when the caller drops the
    * returned DataFrame, Spark's ContextCleaner unpersists the backing
    * RDD automatically, so repeated calls (bench best-of-2, streaming
    * duals) don't accumulate unbounded storage. */
  def clusters(docs: DataFrame): DataFrame = clustersCounted(docs)._1

  /** [[clusters]] plus the number of propagation rounds (=
    * diameter(G) + 1 convergence check) — surfaced for graft.Scale's
    * q46-vs-q55 round comparison. */
  def clustersCounted(docs: DataFrame): (DataFrame, Int) =
    clustersFromEdgesCounted(verifiedEdges(docs))

  /** Propagation clustering over an EXPLICIT verified edge list
    * (doc_a, doc_b) — lets the incremental pipeline's finalize step
    * feed the accumulated, already-verified pairs log directly. */
  def clustersFromEdgesCounted(verified: DataFrame): (DataFrame, Int) = {
    // undirected edge list, both directions — membership comes from it
    val edges = verified
      .union(verified.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
      .persist()
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .persist()
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      require(rounds <= 50, "dedup-cluster propagation failed to converge")
      val nbrMin = edges
        .join(labels, edges("dst") === labels("doc_id"))
        .groupBy(edges("src"))
        .agg(min(col("cluster_id")).as("nbr_min"))
      val next = labels.as("l")
        .join(nbrMin, col("l.doc_id") === nbrMin("src"), "left")
        .select(col("l.doc_id").as("doc_id"),
          least(col("l.cluster_id"),
            coalesce(col("nbr_min"), col("l.cluster_id"))).as("cluster_id"))
        .persist()
      val changed = next.as("n")
        .join(labels.as("o"), col("n.doc_id") === col("o.doc_id"))
        .filter(col("n.cluster_id") =!= col("o.cluster_id"))
        .count()
      labels.unpersist()
      labels = next
      converged = changed == 0
    }
    edges.unpersist()
    (labels.withColumn("is_canonical", col("doc_id") === col("cluster_id")), rounds)
  }
  /** CTE chain `edges, reach, clustered` computing connected
    * components of `scored` (jaccard ≥ 0.5) — `clustered` has
    * (doc_id, cluster_id). Requires WITH RECURSIVE on the outer
    * query. Shared by the q46/q50 oracles. */
  val clustersSqlCtes: String =
    """edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM scored WHERE jaccard >= 0.5
      |  UNION
      |  SELECT doc_b, doc_a FROM scored WHERE jaccard >= 0.5),
      |reach AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |clustered AS (
      |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      |  FROM reach GROUP BY src)""".stripMargin
  val q46Sql: String =
    s"""WITH RECURSIVE ${verifiedPairsSqlCtes("documents")},
       |$clustersSqlCtes
       |SELECT doc_id, cluster_id, cluster_id = doc_id AS is_canonical
       |FROM clustered""".stripMargin

  /** Cluster members ranked by the retention policy (rn = 1 is the
    * representative): the shared core of q96's census and q98's
    * post-dedup mixture. Star-contraction components (the q55 path —
    * O(log n) rounds survives adversarial chain components; the policy
    * rung shouldn't pay the pedagogical fixpoint's diameter-bounded
    * rounds) joined map-side to per-doc metadata, ranked by (n_chars
    * desc, doc_id asc) within each cluster.
    *
    * Scale: cluster membership is O(docs-in-verified-pairs) — tiny
    * against the corpus — so the ranking window on cluster_id is one
    * exchange of that small set joined map-side to per-doc metadata;
    * the corpus itself is touched only by the shared LSH ladder
    * ([[verifiedPairs]]), never re-scanned for the policy. */
  def rankedMembers(docs: DataFrame): DataFrame = {
    val member = graft.ops.ConnectedComponents
      .assign(verifiedEdges(docs)
        .select(col("doc_a").as("u"), col("doc_b").as("v")))
      .select(col("node").as("doc_id"), col("component").as("cluster_id"))
      .join(docs.select(col("doc_id"), col("source"), col("n_chars")),
        Seq("doc_id"))
    val byQuality = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    member.withColumn("rn", row_number().over(byQuality))
  }

  /** The q96/q98 oracle CTE chain through `ranked` — everything after
    * the (recursive) cluster assignment, shared so the policy can
    * never drift between the census and its consumers. */
  val rankedSqlCtes: String =
    """member AS (
      |  SELECT c.doc_id, c.cluster_id, d.source, d.n_chars
      |  FROM clustered c JOIN documents d USING (doc_id)),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY cluster_id
      |              ORDER BY n_chars DESC, doc_id ASC) AS rn
      |  FROM member)""".stripMargin

  /** Cluster-representative selection (q96) — the retention POLICY rung
    * above q46/q55's cluster assignment: real pipelines don't keep the
    * min-doc_id member of a near-dup cluster, they keep the BEST one.
    * Policy here: retain the longest member (max n_chars, doc_id
    * tie-break) — the "keep the superset copy" rule for truncated /
    * boilerplate-stripped near-duplicates — and census per source what
    * that demotes: kept vs demoted docs, characters dropped, and how
    * often the quality argmax disagrees with the naive min-id canonical
    * (`policy_flips`, the rows where the policy actually mattered). */
  def q96ClusterRepresentatives(s: SparkSession, dir: String): DataFrame =
    rankedMembers(Tables.documents(s, dir))
      .groupBy(col("source"))
      .agg(count(when(col("rn") === 1, 1)).as("kept_docs"),
        count(when(col("rn") =!= 1, 1)).as("demoted_docs"),
        coalesce(sum(when(col("rn") =!= 1, col("n_chars"))), lit(0L))
          .cast("long").as("chars_dropped"),
        count(when(col("rn") === 1 && col("doc_id") =!= col("cluster_id"), 1))
          .as("policy_flips"))
  val q96Sql: String =
    s"""WITH RECURSIVE ${verifiedPairsSqlCtes("documents")},
       |$clustersSqlCtes,
       |$rankedSqlCtes
       |SELECT source,
       |       count(CASE WHEN rn = 1 THEN 1 END) AS kept_docs,
       |       count(CASE WHEN rn <> 1 THEN 1 END) AS demoted_docs,
       |       CAST(coalesce(sum(CASE WHEN rn <> 1 THEN n_chars END), 0)
       |            AS BIGINT) AS chars_dropped,
       |       count(CASE WHEN rn = 1 AND doc_id <> cluster_id THEN 1 END)
       |         AS policy_flips
       |FROM ranked GROUP BY 1""".stripMargin

  /** q46's cluster assignment computed by the O(log n) star-contraction
    * algorithm instead of diameter-bounded propagation (see
    * [[graft.ops.ConnectedComponents]]) — the variant that survives
    * adversarial long-chain components at 100 TB. Same output, same
    * DuckDB oracle as q46.
    */
  def q55DedupClustersLogN(s: SparkSession, dir: String): DataFrame = {
    val verified = verifiedEdges(Tables.documents(s, dir))
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    graft.ops.ConnectedComponents.assign(verified)
      .select(col("node").as("doc_id"), col("component").as("cluster_id"),
        (col("node") === col("component")).as("is_canonical"))
  }
  val q55Sql: String = q46Sql

  /** 16-bit SimHash per document (md5-derived bit votes), grouped into
    * a histogram — hash-identical across engines. The 16 bit positions
    * are a literal array on both sides; per token, bit b votes +1/-1 by
    * whether that bit of the token's md5-prefix is set.
    */
  /** HOF spelling of the per-doc SimHash — 17 interpreted passes
    * (md5 transform + one fold per bit); kept as the differential
    * reference for the fused [[graft.functions.SimHashDoc]] kernel
    * the query uses (pinned equal in SimHashDocSpec). Expects the
    * staged `tok_bits` column. */
  private[graft] def simhashHof: Column =
    (0 until 16).map { b =>
      val votes = aggregate(col("tok_bits"), lit(0L),
        (acc, v) => acc + when(shiftright(v, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(votes > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)

  def q28SimhashHistogram(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens(col("text")))
      .filter(size(col("toks")) >= 1)
      .select(graft.functions.SimHashDocFunctions.simhash_doc(col("toks"))
        .as("simhash"))
      .groupBy(col("simhash"))
      .agg(count(lit(1)).as("doc_count"))
  }
  val q28Sql: String = {
    val toks = "str_split(text, ' ')"
    val bits =
      (0 until 16).map { b =>
        s"""CASE WHEN list_sum(list_transform($toks,
           |  t -> CASE WHEN (CAST('0x' || substr(md5(t), 1, 4) AS BIGINT) >> $b) & 1 = 1
           |            THEN 1 ELSE -1 END)) > 0
           |THEN ${1L << b} ELSE 0 END""".stripMargin
      }.mkString(" + ")
    s"""SELECT ($bits) AS simhash, count(*) AS doc_count
       |FROM documents WHERE len($toks) >= 1 GROUP BY 1""".stripMargin
  }

  /** Group-level SimHash via the custom TypedImperativeAggregate
    * ([[graft.functions.SimHashAgg]]): one signature per source from
    * ALL its tokens — partial-aggregated map-side, merged as 16-long
    * vote buffers across partitions (the rows never shuffle).
    */
  def q41SourceSimhash(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("source"),
        // native kernel: one fused md5 loop instead of the interpreted
        // per-token transform (TextOps.tokenCodes16 = the HOF reference)
        explode(graft.functions.TokenCodesFunctions.token_codes(col("toks"), 4))
          .as("code"))
      .groupBy(col("source"))
      .agg(graft.functions.SimHashAgg.simhash_agg(col("code")).as("source_simhash"),
        count(lit(1)).as("token_count"))
  }
  val q41Sql: String = {
    val bits = (0 until 16).map { b =>
      s"""CASE WHEN sum(CASE WHEN (code >> $b) & 1 = 1 THEN 1 ELSE -1 END) > 0
         |THEN ${1L << b} ELSE 0 END""".stripMargin
    }.mkString(" + ")
    s"""WITH codes AS (
       |  SELECT source,
       |         CAST('0x' || substr(md5(unnest(str_split(text, ' '))), 1, 4) AS BIGINT)
       |           AS code
       |  FROM documents)
       |SELECT source, ($bits) AS source_simhash, count(*) AS token_count
       |FROM codes GROUP BY source""".stripMargin
  }

  /** Cross-document duplicated-SPAN census (q74) — the span-level
    * dedup signal of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (ACL 2022): their ExactSubstr finds
    * verbatim token runs shared ACROSS documents, which doc-level
    * fingerprints (q24) and near-dup pairs (q27/q44) both miss — a
    * license header pasted into a million otherwise-distinct files
    * never trips a whole-doc signature. Suffix arrays don't
    * distribute; the standard cluster re-expression is this one: a
    * fixed span length k (here 5 tokens — their 50-token spans scaled
    * to the testdata's ~50-token docs), distinct k-gram sets per doc,
    * and a gram is "duplicated" when ≥ 2 DISTINCT docs contain it.
    * Emits per source: docs, docs hit by a shared span, total shared
    * grams, and the mean integer-percent of a doc's grams that are
    * shared — the "how much of this feed is boilerplate" number that
    * decides whether a source needs span-level cutting before
    * training.
    *
    * Scale shape: grams explode once (corpus × ~L rows) and hash-agg
    * on the gram to find duplicated ones — the canonical shuffle, and
    * the one a suffix array cannot replace on a cluster. The dup-gram
    * set joins back via LEFT SEMI on the same gram key (hash join, no
    * sort); per-doc gram totals ride scan-side (`size(ngram_set)`) so
    * the census join is doc-keyed and tiny. At 100 TB the gram table
    * is the dominant intermediate; map-side distinct (ngram_set is
    * per-doc distinct already) keeps it at one row per distinct
    * (doc, gram), and the gram key hashes uniformly — no skew salt
    * needed.
    */
  val SpanK = 5
  def q74CrossdocSpans(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens(col("text"))) // staged: see minhashSignatures
      .filter(size(col("toks")) >= SpanK)
      .select(col("source"), col("doc_id"),
        graft.functions.NGramSetFunctions.ngram_set(col("toks"), SpanK).as("grams"))
    val exploded = docs.select(col("source"), col("doc_id"),
      explode(col("grams")).as("gram"))
    val dupGrams = exploded.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("gram"))
    // shuffle-hash: build the (small) dup-gram side, never sort the
    // exploded corpus (the q56 join-strategy note)
    val dupPerDoc = exploded.join(dupGrams.hint("shuffle_hash"), Seq("gram"), "left_semi")
      .groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("dup_grams"))
    docs.select(col("source"), col("doc_id"), size(col("grams")).cast("long").as("n_grams"))
      .join(dupPerDoc, Seq("source", "doc_id"), "left")
      .withColumn("dup_grams", coalesce(col("dup_grams"), lit(0L)))
      // integer div (packManifest convention) — double `/` then cast
      // can flip a truncation boundary once operands near 2^53
      .withColumn("dup_pct", expr("dup_grams * 100 div n_grams"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("doc_count"),
        sum(when(col("dup_grams") > 0, 1L).otherwise(0L)).as("docs_hit"),
        sum(col("dup_grams")).as("shared_grams"),
        round(avg(col("dup_pct")), 2).as("avg_dup_pct"))
  }
  /** Source-overlap MinHash matrix (q81) — the cheap feed-overlap
    * audit: one MinHash signature PER SOURCE (each hash's minimum over
    * every 3-gram in every doc of the source — set-union semantics,
    * so the signature of a feed is the elementwise min of its docs'
    * signatures), then the pairwise match-count matrix. matching/8
    * estimates the Jaccard similarity of two feeds' gram SETS without
    * ever materializing them — the first question asked before
    * merging a new crawl into a mixture ("is src19 just src4 again?").
    *
    * Scale shape: the signature is a MERGEABLE tiny aggregate (8
    * mins): map-side partials reduce each partition to one 8-long row
    * per source, one exchange on source ships only those, and the
    * |sources|² matrix is a broadcast self-join of a frame with one
    * row per feed. Nothing pairwise ever touches corpus rows — the
    * contrast with q27's dense-sample exact Jaccard, which explodes
    * and self-joins grams and exists only for bounded samples.
    */
  val SourceMinHashes = 8

  /** Per-source MinHash signature (source, m0..m7) of any (source,
    * text) frame — elementwise min over docs' kernel minima
    * (set-union semantics). Mergeable: the min of per-split minima is
    * the corpus minimum, which is what both q81's map-side partials
    * and the streaming incremental signatures
    * (Streams.incrementalSourceSignatures) rely on. */
  def sourceSignatures(docs: DataFrame): DataFrame = {
    val perDoc = docs
      .withColumn("toks", TextOps.tokens(col("text"))) // staged: see minhashSignatures
      .filter(size(col("toks")) >= 3)
      .withColumn("mh", graft.functions.MinHashFunctions.ngram_minhash_bands(
        col("toks"), 3, SourceMinHashes))
    perDoc.groupBy(col("source"))
      .agg(min(col("mh").getItem(0)).as("m0"),
        (1 until SourceMinHashes).map(j => min(col("mh").getItem(j)).as(s"m$j")): _*)
  }

  def q81SourceOverlap(s: SparkSession, dir: String): DataFrame =
    signatureMatchCensus(sourceSignatures(Tables.documents(s, dir)))

  /** The q81 pair census over a per-source (m0..m7) signature frame —
    * ONE definition for batch q81 and the incremental snapshot (q190:
    * signatures min-merged from the monitor's landed per-batch
    * partials; elementwise-min mergeability is exactly why MinHash is
    * the sketch a feed monitor can keep). */
  private[graft] def signatureMatchCensus(sigs: DataFrame): DataFrame = {
    val matching = (0 until SourceMinHashes)
      .map(j => when(col(s"a.m$j") === col(s"b.m$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    sigs.as("a")
      .join(broadcast(sigs.as("b")), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        matching.as("matching_minhashes"))
  }
  val q81Sql: String = {
    import graft.functions.MinHashKernel.{A, B, Prime}
    val toks = "str_split(text, ' ')"
    val mins = (0 until SourceMinHashes)
      .map(j => s"min((${A(j)} * x + ${B(j)}) % $Prime) AS m$j").mkString(", ")
    val matching = (0 until SourceMinHashes)
      .map(j => s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH d AS (
       |  SELECT source, $toks AS toks FROM documents WHERE len($toks) >= 3),
       |g AS (
       |  SELECT source, unnest(list_transform(range(1, len(toks) - 1),
       |    i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
       |  FROM d),
       |x AS (SELECT source, CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT) AS x
       |      FROM g),
       |m AS (SELECT source, $mins FROM x GROUP BY 1)
       |SELECT a.source AS src_a, b.source AS src_b,
       |       CAST($matching AS BIGINT) AS matching_minhashes
       |FROM m a JOIN m b ON a.source < b.source""".stripMargin
  }

  val q74Sql: String = {
    val toks = "str_split(text, ' ')"
    s"""WITH d AS (
       |  SELECT source, doc_id, $toks AS toks FROM documents
       |  WHERE len($toks) >= $SpanK),
       |g AS (
       |  SELECT source, doc_id, unnest(list_distinct(
       |    list_transform(range(1, len(toks) - ${SpanK - 2}),
       |      i -> array_to_string(list_slice(toks, i, i + ${SpanK - 1}), ' '))))
       |    AS gram
       |  FROM d),
       |dup AS (SELECT gram FROM (
       |  SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1) WHERE nd >= 2),
       |sizes AS (SELECT source, doc_id, count(*) AS n_grams FROM g GROUP BY 1, 2),
       |pd AS (SELECT source, doc_id, count(*) AS dup_grams
       |       FROM g JOIN dup USING (gram) GROUP BY 1, 2),
       |j AS (SELECT s.source, s.doc_id, s.n_grams,
       |             coalesce(pd.dup_grams, 0) AS dup_grams
       |      FROM sizes s LEFT JOIN pd
       |        ON s.source = pd.source AND s.doc_id = pd.doc_id)
       |SELECT source, count(*) AS doc_count,
       |       CAST(sum(CASE WHEN dup_grams > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_hit,
       |       CAST(sum(dup_grams) AS BIGINT) AS shared_grams,
       |       round(avg(100 * dup_grams // n_grams), 2) AS avg_dup_pct
       |FROM j GROUP BY 1""".stripMargin
  }

  /** Span surgery (q86) — the ACTION on q74's census, which is what
    * Lee et al. actually do to the corpus: CUT the duplicated spans.
    * A token position is removed when it is covered by any cross-doc
    * duplicated k-gram (a gram starting at i covers [i, i+k-1]; a
    * position under multiple dup grams is removed once — coverage is
    * a set union, realized as a distinct on positions). Census per
    * source: docs, total tokens, tokens removed, integer removal pct
    * — the before/after a span-level decontamination run reports.
    *
    * Scale shape: positional grams explode once (the q74 gram table
    * plus a position int); dup grams come from the same hash-agg;
    * coverage expands each dup START by k positions (bounded
    * fan-out), and the distinct collapses overlaps in the same
    * (source, doc) shuffle as the final census join. Everything is
    * gram- or doc-keyed — nothing pairwise.
    */
  /** The ≥[[SpanK]]-token corpus with its staged token arrays — the
    * shared entry of the span family (q86 surgery / q167 islands). */
  private def spanDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens(col("text"))) // staged: see minhashSignatures
      .filter(size(col("toks")) >= SpanK)

  /** Start positions of cross-doc duplicated [[SpanK]]-grams, one row
    * per (source, doc_id, pos) — the ONE definition of "a duplicated
    * span starts here" that q86's position-union and q167's interval
    * merge both consume, so the two censuses can never disagree about
    * which text is duplicated.
    *
    * Scale shape: positional grams explode once (the q74 gram table
    * plus a position int — native kernel; the interpreted
    * TextOps.shingles HOF is its differential reference,
    * NGramSetSpec); dup grams come from the same hash-agg; the
    * semi-join is gram-keyed. Nothing pairwise. */
  private[graft] def dupSpanStarts(docs: DataFrame): DataFrame = {
    val posGrams = docs.select(col("source"), col("doc_id"),
      posexplode(graft.functions.NGramSetFunctions.ngram_list(col("toks"), SpanK))
        .as(Seq("pos", "gram")))
    val dupGrams = docs.select(col("doc_id"),
        explode(graft.functions.NGramSetFunctions.ngram_set(col("toks"), SpanK))
          .as("gram"))
      .groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("gram"))
    posGrams
      .join(dupGrams.hint("shuffle_hash"), Seq("gram"), "left_semi")
      .select(col("source"), col("doc_id"), col("pos"))
  }

  def q86SpanSurgery(s: SparkSession, dir: String): DataFrame = {
    val docs = spanDocs(s, dir)
    val covered = dupSpanStarts(docs)
      .select(col("source"), col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (SpanK - 1))).as("cpos"))
      .distinct()
    val removed = covered.groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("removed"))
    docs.select(col("source"), col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"))
      .join(removed, Seq("source", "doc_id"), "left")
      .withColumn("removed", coalesce(col("removed"), lit(0L)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("doc_count"),
        sum(col("n_toks")).as("tokens_total"),
        sum(col("removed")).as("tokens_removed"),
        expr("sum(removed) * 100 div sum(n_toks)").as("removed_pct"))
  }
  val q86Sql: String = {
    val toks = "str_split(text, ' ')"
    s"""WITH d AS (
       |  SELECT source, doc_id, $toks AS toks FROM documents
       |  WHERE len($toks) >= $SpanK),
       |pg AS (
       |  SELECT source, doc_id, i - 1 AS pos,
       |         array_to_string(list_slice(toks, i, i + ${SpanK - 1}), ' ') AS gram
       |  FROM d, unnest(range(1, len(toks) - ${SpanK - 2})) AS t(i)),
       |dup AS (SELECT gram FROM (
       |  SELECT gram, count(DISTINCT doc_id) AS nd FROM pg GROUP BY 1) WHERE nd >= 2),
       |cov AS (
       |  SELECT DISTINCT source, doc_id, u AS cpos
       |  FROM (SELECT pg.source, pg.doc_id, pg.pos FROM pg JOIN dup USING (gram)),
       |       unnest(range(pos, pos + $SpanK)) AS t2(u)),
       |rm AS (SELECT source, doc_id, count(*) AS removed FROM cov GROUP BY 1, 2),
       |j AS (
       |  SELECT d.source, d.doc_id, len(d.toks) AS n_toks,
       |         coalesce(rm.removed, 0) AS removed
       |  FROM d LEFT JOIN rm ON d.source = rm.source AND d.doc_id = rm.doc_id)
       |SELECT source, count(*) AS doc_count,
       |       CAST(sum(n_toks) AS BIGINT) AS tokens_total,
       |       CAST(sum(removed) AS BIGINT) AS tokens_removed,
       |       CAST(sum(removed) AS BIGINT) * 100 // CAST(sum(n_toks) AS BIGINT)
       |         AS removed_pct
       |FROM j GROUP BY 1""".stripMargin
  }

  /** Merged duplicated spans (q167) — q86's coverage set expressed as
    * INTERVALS: the duplicated [[SpanK]]-gram start positions of each
    * document are merged into maximal contiguous covered runs
    * (gaps-and-islands), and the census reports the per-source span
    * inventory — how many distinct duplicated passages exist, how
    * long they run — which is what a span-surgery review actually
    * reads (q86's position count says how MUCH is cut; this says in
    * how many PIECES, and how big the biggest is).
    *
    * Conservation law (spec-asserted): covered_positions here equals
    * q86's tokens_removed per source exactly — both are |union of
    * [pos, pos+k-1]| — while this spelling never materializes the
    * position explosion: islands are found on the START rows alone
    * (k× fewer rows than q86's explode+distinct, same answer).
    *
    * Scale shape: [[dupSpanStarts]]'s gram-keyed semi-join, then
    * every window is partitioned by (source, doc_id) — the merge is
    * embarrassingly doc-parallel; the census is one hash agg.
    */
  def q167MergedSpans(s: SparkSession, dir: String): DataFrame = {
    val byDoc = Window.partitionBy(col("source"), col("doc_id"))
      .orderBy(col("pos"))
    // a new island starts where the gap to the previous span's end
    // exceeds adjacency: spans are fixed-length k, so prev end =
    // lag(pos) + k - 1 and "touching or overlapping" is pos ≤ lag + k
    val flagged = dupSpanStarts(spanDocs(s, dir))
      .withColumn("ni",
        when(lag(col("pos"), 1).over(byDoc).isNull ||
          col("pos") > lag(col("pos"), 1).over(byDoc) + SpanK, 1L)
          .otherwise(0L))
      .withColumn("iid", sum(col("ni")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy(col("source"), col("doc_id"), col("iid"))
      .agg((max(col("pos")) - min(col("pos")) + SpanK).cast("long").as("len"))
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("docs_hit"),
        count(lit(1)).as("merged_spans"),
        sum(col("len")).as("covered_positions"),
        max(col("len")).as("longest_span"))
  }

  val q167Sql: String = {
    val toks = "str_split(text, ' ')"
    s"""WITH d AS (
       |  SELECT source, doc_id, $toks AS toks FROM documents
       |  WHERE len($toks) >= $SpanK),
       |pg AS (
       |  SELECT source, doc_id, i - 1 AS pos,
       |         array_to_string(list_slice(toks, i, i + ${SpanK - 1}), ' ') AS gram
       |  FROM d, unnest(range(1, len(toks) - ${SpanK - 2})) AS t(i)),
       |dup AS (SELECT gram FROM (
       |  SELECT gram, count(DISTINCT doc_id) AS nd FROM pg GROUP BY 1) WHERE nd >= 2),
       |st AS (SELECT pg.source, pg.doc_id, pg.pos FROM pg JOIN dup USING (gram)),
       |fl AS (
       |  SELECT source, doc_id, pos,
       |         CASE WHEN lag(pos) OVER w IS NULL
       |                OR pos > lag(pos) OVER w + $SpanK THEN 1 ELSE 0 END AS ni
       |  FROM st WINDOW w AS (PARTITION BY source, doc_id ORDER BY pos)),
       |isl AS (
       |  SELECT source, doc_id, pos,
       |         sum(ni) OVER (PARTITION BY source, doc_id ORDER BY pos) AS iid
       |  FROM fl),
       |sp AS (
       |  SELECT source, doc_id, iid, max(pos) - min(pos) + $SpanK AS len
       |  FROM isl GROUP BY 1, 2, 3)
       |SELECT source, count(DISTINCT doc_id) AS docs_hit,
       |       count(*) AS merged_spans,
       |       CAST(sum(len) AS BIGINT) AS covered_positions,
       |       CAST(max(len) AS BIGINT) AS longest_span
       |FROM sp GROUP BY 1""".stripMargin
  }

  // ------------------------------------- sketch overlap / capped dedup

  /** Sketch size for the pairwise source-overlap estimator (q171).
    * 16 keeps BOTH regimes exercised by the test corpora (sf0.001
    * sources hold < k distinct docs → exact path; sf0.01's 25-doc
    * sources saturate the sketch → estimator path). Production sizing
    * is k ≈ 1024–4096: KMV's relative error is ~1/√(k−1), so k=1024
    * reads ~3% — and the sketch frame stays |sources|·k longs. */
  val OverlapK = 16

  /** The KMV hash domain: fingerprints are hashed to 60 bits
    * (15 hex digits — the q135 audit-hash collision budget). */
  val OverlapDomain = 1152921504606846976L // 2^60

  /** Pairwise source content overlap from KMV sketches (q171) — "how
    * much of source A's content is also in source B", for every
    * source pair, WITHOUT a pairwise document join: each source keeps
    * only its k minimum fingerprint hashes ([[graft.functions
    * .BottomKSample]] — O(k) state, map-side partials), and the
    * bottom-k of two unioned sketches is exactly the bottom-k of the
    * unioned sets, so union cardinality, intersection and Jaccard all
    * estimate from the tiny sketch frame (Beyer et al. 2007, "On
    * synopses for distinct value estimation under multiset
    * operations"): with U = bottom-k(K_A ∪ K_B), h_k its largest
    * member and D the hash domain, |A∪B| ≈ (k−1)·D/h_k and
    * |A∩B| ≈ |{h ∈ K_A∩K_B : h ≤ h_k}| · |A∪B| / k. When the merged
    * sketch holds fewer than k hashes the sets were exhaustively
    * sketched and every estimate collapses to the exact value — the
    * same CASE in both engines, so the oracle hash-matches estimates
    * in BOTH regimes. All arithmetic is integer (the one wide product
    * (k−1)·2⁶⁰ rides DECIMAL(38)/HUGEINT).
    *
    * The exact audit columns (n_a/n_b/exact_*) come from ONE distinct
    * (source, h) frame: a hash-keyed self-join whose per-key fan-out
    * is bounded by sources-per-hash², never corpus². At 100 TB the
    * audit is what you DROP (q155's discipline — the sketch column is
    * what you keep; err_pm measures exactly that trade); the sketch
    * side's corpus work is one scan + one O(k)-state hash agg, and
    * the pair frame is |sources|² rows of k-long arrays.
    */
  /** The (source, h) fingerprint-hash frame the overlap family
    * sketches — ONE definition for batch q171 and the incremental
    * sketch log (q174). */
  private[graft] def overlapHashesOf(docs: DataFrame): DataFrame =
    docs.select(col("source"),
      conv(substring(TextOps.fingerprint(col("text")), 1, 15), 16, 10)
        .cast("long").as("h"))
      // a NULL-text doc hashes to NULL; dropping it here (not inside the
      // kernel, which also skips nulls) keeps an all-null source OUT of
      // the census entirely — otherwise its empty sketch would make
      // element_at(u_all, 0) die downstream (both engines filter alike)
      .filter(col("h").isNotNull)

  /** The Beyer et al. pairwise estimates over a (source, ks) sketch
    * frame — the part of q171 that survives at 100 TB, shared with the
    * incremental snapshot (q174): broadcast |sources|²-pair join,
    * integer estimator, exact-collapse CASE when a merged sketch is
    * unsaturated. */
  private[graft] def overlapEstimates(sketches: DataFrame): DataFrame =
    sketches.as("a")
      .join(broadcast(sketches.as("b")), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.ks").as("ka"), col("b.ks").as("kb"))
      .withColumn("u_all", expr("array_sort(array_distinct(concat(ka, kb)))"))
      .withColumn("kk", expr(s"least(size(u_all), $OverlapK)"))
      .withColumn("hk", expr("element_at(u_all, kk)")) // kk ≥ 1: both sources hold ≥1 doc
      .withColumn("est_union", expr(
        s"""CASE WHEN size(u_all) < $OverlapK THEN CAST(size(u_all) AS BIGINT)
           |     ELSE CAST(CAST(${OverlapK - 1} AS DECIMAL(38,0))
           |            * $OverlapDomain div hk AS BIGINT) END""".stripMargin))
      .withColumn("c", expr(
        "size(filter(ka, x -> array_contains(kb, x) AND x <= hk))"))
      .withColumn("est_common", expr("c * est_union div kk"))
      .select(col("src_a"), col("src_b"), col("est_common"), col("est_union"))

  /** Per-source bottom-k sketches of a (source, h) frame via the
    * native kernel (O(k) state, map-side partials). */
  private[graft] def overlapSketchesOf(hashes: DataFrame): DataFrame =
    hashes.groupBy(col("source"))
      .agg(graft.functions.BottomKSample
        .bottomk_sample(col("h"), col("h"), OverlapK).as("ks"))

  def q171SketchOverlap(s: SparkSession, dir: String): DataFrame = {
    val hashes = overlapHashesOf(Tables.documents(s, dir))
    val ex = hashes.distinct()
    val na = ex.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val common = ex.as("a")
      .join(ex.as("b").hint("shuffle_hash"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("exact_common"))
    overlapEstimates(overlapSketchesOf(hashes))
      .join(broadcast(na.select(col("source").as("src_a"),
        col("n").as("n_a"))), Seq("src_a"))
      .join(broadcast(na.select(col("source").as("src_b"),
        col("n").as("n_b"))), Seq("src_b"))
      .join(broadcast(common), Seq("src_a", "src_b"), "left")
      .withColumn("exact_common", coalesce(col("exact_common"), lit(0L)))
      .withColumn("exact_union", col("n_a") + col("n_b") - col("exact_common"))
      .withColumn("union_err_pm", expr(
        "abs(est_union - exact_union) * 1000 div exact_union"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("exact_common"), col("exact_union"),
        col("est_common"), col("est_union"), col("union_err_pm"))
  }

  val q171Sql: String = {
    val h = "CAST('0x' || substr(md5(regexp_replace(lower(trim(text)), " +
      "'\\s+', ' ', 'g')), 1, 15) AS BIGINT)"
    s"""WITH x AS (SELECT DISTINCT source, $h AS h FROM documents
       |           WHERE $h IS NOT NULL),
       |na AS (SELECT source, count(*) AS n FROM x GROUP BY 1),
       |cm AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |         count(*) AS exact_common
       |  FROM x a JOIN x b ON a.h = b.h AND a.source < b.source
       |  GROUP BY 1, 2),
       |rk AS (SELECT source, h,
       |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |       FROM x),
       |sk AS (SELECT source, list(h ORDER BY h) AS ks
       |       FROM rk WHERE rn <= $OverlapK GROUP BY 1),
       |p AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |         a.ks AS ka, b.ks AS kb,
       |         list_sort(list_distinct(a.ks || b.ks)) AS u_all
       |  FROM sk a JOIN sk b ON a.source < b.source),
       |e AS (
       |  SELECT *, least(len(u_all), $OverlapK) AS kk,
       |         u_all[least(len(u_all), $OverlapK)] AS hk
       |  FROM p),
       |f AS (
       |  SELECT src_a, src_b, kk, hk,
       |         CASE WHEN len(u_all) < $OverlapK THEN CAST(len(u_all) AS BIGINT)
       |              ELSE CAST(CAST(${OverlapK - 1} AS HUGEINT)
       |                     * $OverlapDomain // hk AS BIGINT) END AS est_union,
       |         len(list_filter(ka,
       |           x -> list_contains(kb, x) AND x <= hk)) AS c
       |  FROM e)
       |SELECT f.src_a, f.src_b,
       |       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
       |       CAST(coalesce(cm.exact_common, 0) AS BIGINT) AS exact_common,
       |       CAST(a.n + b.n - coalesce(cm.exact_common, 0) AS BIGINT)
       |         AS exact_union,
       |       CAST(c AS BIGINT) * est_union // kk AS est_common,
       |       est_union,
       |       abs(est_union - (a.n + b.n - coalesce(cm.exact_common, 0)))
       |         * 1000 // (a.n + b.n - coalesce(cm.exact_common, 0))
       |         AS union_err_pm
       |FROM f
       |JOIN na a ON f.src_a = a.source
       |JOIN na b ON f.src_b = b.source
       |LEFT JOIN cm ON f.src_a = cm.src_a AND f.src_b = cm.src_b""".stripMargin
  }

  /** q174's oracle — q171's sketch half alone (no exact audit: the
    * incremental monitor keeps only the O(sources·k) sketch state,
    * exactly what a 100 TB ingest keeps live). */
  val q174Sql: String = {
    val h = "CAST('0x' || substr(md5(regexp_replace(lower(trim(text)), " +
      "'\\s+', ' ', 'g')), 1, 15) AS BIGINT)"
    s"""WITH x AS (SELECT DISTINCT source, $h AS h FROM documents
       |           WHERE $h IS NOT NULL),
       |rk AS (SELECT source, h,
       |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |       FROM x),
       |sk AS (SELECT source, list(h ORDER BY h) AS ks
       |       FROM rk WHERE rn <= $OverlapK GROUP BY 1),
       |p AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |         a.ks AS ka, b.ks AS kb,
       |         list_sort(list_distinct(a.ks || b.ks)) AS u_all
       |  FROM sk a JOIN sk b ON a.source < b.source),
       |e AS (
       |  SELECT *, least(len(u_all), $OverlapK) AS kk,
       |         u_all[least(len(u_all), $OverlapK)] AS hk
       |  FROM p),
       |f AS (
       |  SELECT src_a, src_b, kk, hk,
       |         CASE WHEN len(u_all) < $OverlapK THEN CAST(len(u_all) AS BIGINT)
       |              ELSE CAST(CAST(${OverlapK - 1} AS HUGEINT)
       |                     * $OverlapDomain // hk AS BIGINT) END AS est_union,
       |         len(list_filter(ka,
       |           x -> list_contains(kb, x) AND x <= hk)) AS c
       |  FROM e)
       |SELECT src_a, src_b,
       |       CAST(c AS BIGINT) * est_union // kk AS est_common,
       |       est_union
       |FROM f""".stripMargin
  }

  /** Copies retained per distinct fingerprint by q172 — a small cap
    * ≥ 2 keeps SOME natural duplication (cap = 1 is exact dedup;
    * the spec pins that degeneration). */
  val DupCap = 3

  /** The globally kept (doc_id, source, fp) rows under a per-
    * fingerprint copy cap: of every fingerprint's copies, the `cap`
    * with the smallest (md5(doc_id), doc_id) survive — a
    * deterministic uniform choice among copies, independent of
    * layout.
    *
    * Scale shape — the reason this is NOT the rank-window spelling
    * (`row_number() over (partition by fp order by h)` ≤ cap, the
    * oracle's): the bottom-k kernel keeps O(cap) state per
    * fingerprint with MAP-SIDE partials — each input partition's
    * copies collapse to ONE ≤cap-pair buffer row before the shuffle,
    * and the reduce side is a hash agg, no sort. Honest Spark-4
    * accounting (measured in ShuffleMetricsSpec on a 64×-duplicated
    * corpus): `InferWindowGroupLimit` now gives the literal
    * rank-window spelling its own map-side cut, so it shuffles
    * cap·|partitions| rows per fingerprint (not the corpus) and sorts
    * only bounded runs — the kernel's remaining edge is the cap×
    * record shrink (one buffer row vs cap rows per partition), the
    * sort-free object-hash reduce, and immunity to the patterns the
    * inference rule can't see (rank used in a later stage, a filter
    * the optimizer can't prove ≤cap). The survivors then semi-join
    * back doc_id-keyed. */
  private[graft] def cappedKept(docs: DataFrame, cap: Int): DataFrame = {
    val keptIds = docs.groupBy(col("fp"))
      .agg(graft.functions.BottomKSample
        .bottomk_sample(col("h"), col("doc_id"), cap).as("ids"))
      .select(explode(col("ids")).as("doc_id"))
    docs.join(keptIds.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
  }

  /** Frequency-capped dedup census (q172) — controlled duplication:
    * instead of q25's one-survivor-per-fingerprint, keep up to
    * [[DupCap]] copies of each distinct content (full dedup measurably
    * hurts some mixes; a small cap keeps natural-duplication signal
    * while bounding any one document's epoch share). Reports, per
    * source, the corpus/distinct/kept/dropped census the mixture
    * planner reads next to q24.
    */
  /** q172's input frame: (doc_id, source, fp, h) with the survivor-
    * choice hash h owned by the ROW (md5 of doc_id), so which copies
    * survive is deterministic and layout-independent — and, because h
    * never depends on WHICH batch carried the row, identical between
    * the batch census and the incremental claims index. */
  private[graft] def cappedDocsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      TextOps.fingerprint(col("text")).as("fp"),
      conv(substring(md5(concat(lit("cap:"), col("doc_id").cast("string"))),
        1, 15), 16, 10).cast("long").as("h"))

  private[graft] def cappedDocs(s: SparkSession, dir: String): DataFrame =
    cappedDocsOf(Tables.documents(s, dir))

  /** The census over a (doc_id, source, fp, h) frame — ONE definition
    * for batch q172 and the incremental snapshot's re-merge shape. */
  private[graft] def cappedCensus(docs: DataFrame, cap: Int): DataFrame = {
    val kept = cappedKept(docs, cap)
      .groupBy(col("source")).agg(count(lit(1)).as("kept_docs"))
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("doc_count"),
        countDistinct(col("fp")).as("distinct_docs"))
      // LEFT: a source every one of whose copies loses the survivor
      // race to other sources' copies of the same content keeps ZERO
      // docs — it must still appear in the census (kept = 0), as the
      // oracle's group-by-source spelling naturally does
      .join(broadcast(kept), Seq("source"), "left")
      .withColumn("kept_docs", coalesce(col("kept_docs"), lit(0L)))
      .withColumn("dropped_docs", col("doc_count") - col("kept_docs"))
  }

  def q172CappedDedup(s: SparkSession, dir: String): DataFrame =
    cappedCensus(cappedDocs(s, dir), DupCap)

  val q172Sql: String =
    s"""WITH f AS (
       |  SELECT doc_id, source,
       |         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
       |         CAST('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)),
       |           1, 15) AS BIGINT) AS h
       |  FROM documents),
       |r AS (SELECT *, row_number() OVER
       |        (PARTITION BY fp ORDER BY h, doc_id) AS rn FROM f)
       |SELECT source, count(*) AS doc_count,
       |       count(DISTINCT fp) AS distinct_docs,
       |       CAST(sum(CASE WHEN rn <= $DupCap THEN 1 ELSE 0 END) AS BIGINT)
       |         AS kept_docs,
       |       CAST(sum(CASE WHEN rn > $DupCap THEN 1 ELSE 0 END) AS BIGINT)
       |         AS dropped_docs
       |FROM r GROUP BY 1""".stripMargin

  // ------------------------------------------------- novelty curve

  /** Ingest-order batch width for the novelty curve (docs per batch,
    * by doc_id — the testbed's arrival-order proxy). */
  val NoveltyBatchDocs = 100L

  /** N-gram novelty curve (q91) — the duplication-saturation
    * diagnostic behind "is more of this crawl still worth ingesting":
    * bucket the corpus in ingest order, and per batch report how many
    * distinct [[SpanK]]-grams appear, how many are NEW (first batch
    * where the gram is ever seen), the running distinct-gram total,
    * and the integer novelty percentage. A fresh source holds near
    * 100%; a feed re-crawling itself decays toward 0 — the curve's
    * knee is where continued ingest stops buying diversity.
    *
    * Scale shape: one corpus explode to doc-distinct grams (the q74
    * `ngram_set` kernel — map-side distinct keeps it one row per
    * (doc, gram)); ONE corpus-scale shuffle compacts to (batch, gram).
    * The first-seen agg (min batch per gram) re-shuffles only that
    * compacted table on gram; everything downstream — per-batch
    * census, new-gram counts, the cumulative window — is O(batches)
    * rows. The cumulative sum runs unpartitioned on purpose: its
    * input IS tiny (one row per batch) at any corpus size.
    */
  def q91NoveltyCurve(s: SparkSession, dir: String): DataFrame =
    noveltyCensusFrom(noveltyGramsOf(Tables.documents(s, dir)))

  /** q91's (batch, gram, occ) frame over any (doc_id, text) docs — the
    * batch axis is a DATA property (doc_id div [[NoveltyBatchDocs]]),
    * which is what lets the incremental twin (q191) land partials from
    * arbitrary micro-batch slices: occ counts are SUM-mergeable per
    * (batch, gram) regardless of which micro-batch carried the doc. */
  private[graft] def noveltyGramsOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", TextOps.tokens(col("text")))
      .filter(size(col("toks")) >= SpanK)
      .select(expr(s"doc_id div $NoveltyBatchDocs").as("batch"),
        explode(graft.functions.NGramSetFunctions.ngram_set(col("toks"), SpanK))
          .as("gram"))
      .groupBy(col("batch"), col("gram"))
      .agg(count(lit(1)).as("occ"))

  /** q91's census tail over a (batch, gram, occ) frame — ONE
    * definition for batch q91 and the incremental snapshot (q191). */
  private[graft] def noveltyCensusFrom(bg: DataFrame): DataFrame = {
    val firstSeen = bg.groupBy(col("gram")).agg(min(col("batch")).as("fb"))
    val seen = bg.groupBy(col("batch"))
      .agg(count(lit(1)).as("grams_seen"), sum(col("occ")).as("gram_docs"))
    val news = firstSeen.groupBy(col("fb").as("batch"))
      .agg(count(lit(1)).as("new_grams"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("batch"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    seen.join(news, Seq("batch"), "left")
      .withColumn("new_grams", coalesce(col("new_grams"), lit(0L)))
      .withColumn("cum_new_grams", sum(col("new_grams")).over(w))
      .select(col("batch"), col("grams_seen"), col("gram_docs"),
        col("new_grams"), col("cum_new_grams"),
        expr("new_grams * 100 div grams_seen").as("novelty_pct"))
  }
  val q91Sql: String = {
    val toks = "str_split(text, ' ')"
    s"""WITH d AS (
       |  SELECT doc_id // $NoveltyBatchDocs AS batch, $toks AS toks
       |  FROM documents WHERE len($toks) >= $SpanK),
       |g AS (
       |  SELECT batch, unnest(list_distinct(
       |    list_transform(range(1, len(toks) - ${SpanK - 2}),
       |      i -> array_to_string(list_slice(toks, i, i + ${SpanK - 1}), ' '))))
       |    AS gram
       |  FROM d),
       |bg AS (SELECT batch, gram, count(*) AS occ FROM g GROUP BY 1, 2),
       |fs AS (SELECT gram, min(batch) AS fb FROM bg GROUP BY 1),
       |seen AS (SELECT batch, count(*) AS grams_seen,
       |                CAST(sum(occ) AS BIGINT) AS gram_docs
       |         FROM bg GROUP BY 1),
       |nw AS (SELECT fb AS batch, count(*) AS new_grams FROM fs GROUP BY 1),
       |j AS (SELECT s.batch, s.grams_seen, s.gram_docs,
       |             coalesce(n.new_grams, 0) AS new_grams
       |      FROM seen s LEFT JOIN nw n USING (batch))
       |SELECT batch, grams_seen, gram_docs, new_grams,
       |       CAST(sum(new_grams) OVER (ORDER BY batch
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |            AS BIGINT) AS cum_new_grams,
       |       new_grams * 100 // grams_seen AS novelty_pct
       |FROM j""".stripMargin
  }

  /** Quality × dedup interaction grid (q112): the question a curation
    * review actually asks of the dedup stage — WHICH quality strata is
    * it deleting from? Per q22 quality bucket: corpus docs, docs
    * outside any near-dup cluster (untouched), cluster representatives
    * kept by the q96 retention policy, members demoted by it, the
    * token mass those demotions drop, and the demotion rate in ppm. A
    * dedup pass that demotes mostly 'ok'-bucket docs is eating signal;
    * one concentrated in 'repetitive' is working as intended.
    *
    * Scale shape: cluster membership is O(docs-in-verified-pairs)
    * from the shared LSH ladder ([[rankedMembers]] — the corpus is
    * never re-scanned for the policy); the quality column is computed
    * scan-side on the SAME single corpus pass that feeds the LEFT
    * join, membership broadcasts onto it (tiny side), and the census
    * is O(buckets). Standalone-per-query ladder re-run is the oracle
    * harness's isolation requirement (VERDICT r6 note 3) — composed
    * pipelines share the stage via [[verifiedPairs]].
    */
  def q112QualityDedupGrid(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ranked = rankedMembers(docs).select(col("doc_id"), col("rn"))
    docs
      .select(col("doc_id"),
        TextOps.qualityBucket(TextOps.tokens(col("text")), col("n_chars"))
          .as("quality"),
        size(TextOps.tokens(col("text"))).as("n_toks"))
      .join(broadcast(ranked), Seq("doc_id"), "left")
      .groupBy(col("quality"))
      .agg(count(lit(1)).as("docs"),
        count(when(col("rn").isNull, 1)).as("unclustered"),
        count(when(col("rn") === 1, 1)).as("kept_reps"),
        count(when(col("rn") > 1, 1)).as("demoted"),
        coalesce(sum(when(col("rn") > 1, col("n_toks"))), lit(0L))
          .cast("long").as("demoted_tokens"))
      .withColumn("demoted_ppm", expr("demoted * 1000000 div docs"))
  }
  val q112Sql: String =
    s"""WITH RECURSIVE ${verifiedPairsSqlCtes("documents")},
       |$clustersSqlCtes,
       |$rankedSqlCtes,
       |rr AS (SELECT doc_id, rn FROM ranked)
       |SELECT ${Text.qualityBucketSql} AS quality,
       |       count(*) AS docs,
       |       count(CASE WHEN rn IS NULL THEN 1 END) AS unclustered,
       |       count(CASE WHEN rn = 1 THEN 1 END) AS kept_reps,
       |       count(CASE WHEN rn > 1 THEN 1 END) AS demoted,
       |       CAST(coalesce(sum(CASE WHEN rn > 1
       |                         THEN len(str_split(text, ' ')) END), 0)
       |            AS BIGINT) AS demoted_tokens,
       |       count(CASE WHEN rn > 1 THEN 1 END) * 1000000 // count(*)
       |         AS demoted_ppm
       |FROM documents d LEFT JOIN rr USING (doc_id)
       |GROUP BY 1""".stripMargin

  /** Near-dup graph topology census (q114): nodes, edges, wedges
    * (paths of length 2, Σ d·(d−1)/2 over degrees), triangles, and
    * the global clustering coefficient 3·triangles/wedges in integer
    * ppm — the graph-shape diagnostic for the verified-pair graph the
    * dedup ladder feeds to connected components. Near-dup components
    * from template/boilerplate farms are near-CLIQUES (cc → 1e6);
    * chains of pairwise-similar-but-drifting revisions are paths
    * (cc → 0). The coefficient says which regime the corpus is in —
    * and therefore whether q46's diameter-bounded propagation or
    * q55's star contraction is the right clustering spelling (the
    * question graft.Scale's q46/q55 laws answer empirically; this census
    * answers it from the data).
    *
    * Triangle counting: edges arrive id-oriented (doc_a < doc_b), so
    * the oriented wedge join e1(a,b)⋈e2(b,c) closed by e3(a,c) counts
    * each triangle exactly once — two joins on the EDGE table, the
    * corpus itself is touched only by the shared LSH ladder. On a
    * general 100 TB graph the id orientation leaves hub wedges
    * quadratic in the hub degree; the standard remedy is DEGREE
    * orientation (point each edge at its higher-(degree,id) endpoint,
    * bounding enumeration by O(m^1.5)). Here the LSH band structure
    * already caps degrees — a doc pairs only within its buckets — so
    * the id-oriented spelling is the right cost at this graph shape;
    * AQE's skew split covers residual hot nodes.
    */
  def q114TriangleCensus(s: SparkSession, dir: String): DataFrame = {
    val e = verifiedEdges(Tables.documents(s, dir))
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val deg = e.select(col("a").as("x"))
      .union(e.select(col("b").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    val degAgg = deg.agg(count(lit(1)).as("nodes"),
      coalesce(sum(expr("d * (d - 1) div 2")), lit(0L))
        .cast("long").as("wedges"))
    val eAgg = e.agg(count(lit(1)).as("edges"))
    val triAgg = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .agg(count(lit(1)).as("triangles"))
    degAgg.crossJoin(eAgg).crossJoin(triAgg)
      .withColumn("global_cc_ppm",
        when(col("wedges") === 0, lit(0L))
          .otherwise(expr("triangles * 3000000 div wedges")))
      .select(col("nodes"), col("edges"), col("wedges"), col("triangles"),
        col("global_cc_ppm"))
  }
  val q114Sql: String =
    s"""WITH ${verifiedPairsSqlCtes("documents")},
       |e AS (SELECT doc_a AS a, doc_b AS b FROM scored WHERE jaccard >= 0.5),
       |deg AS (SELECT x, count(*) AS d
       |        FROM (SELECT a AS x FROM e UNION ALL SELECT b AS x FROM e)
       |        GROUP BY 1),
       |da AS (SELECT count(*) AS nodes,
       |              CAST(coalesce(sum(d * (d - 1) // 2), 0) AS BIGINT)
       |                AS wedges
       |       FROM deg),
       |ea AS (SELECT count(*) AS edges FROM e),
       |ta AS (SELECT count(*) AS triangles
       |       FROM e e1
       |       JOIN e e2 ON e1.b = e2.a
       |       JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b)
       |SELECT nodes, edges, wedges, triangles,
       |       CASE WHEN wedges = 0 THEN 0
       |            ELSE triangles * 3000000 // wedges END AS global_cc_ppm
       |FROM da, ea, ta""".stripMargin

  // ---------------------------------------- LSH calibration (q128)

  /** MinHash-LSH calibration census (q128): the sketch-quality audit —
    * for every LSH candidate pair, how many of the 4 bands agreed
    * (the sketch's evidence) against the pair's TRUE n-gram Jaccard
    * decile (the exact answer, integer (10·|∩|) div |∪| so no float
    * crosses a bucket edge). The (bands_agree × jaccard_decile) grid
    * is the measured s-curve: mass in high-band/low-jaccard cells is
    * the sketch's false-positive cost (verification work wasted), and
    * high-jaccard pairs that only ever reach 1 band show how close
    * the config sails to missing real duplicates. Tuning (b, r)
    * against a corpus IS reading this census.
    *
    * Scale shape: identical to q44 — candidates materialize only
    * inside (band, sig) buckets; the band-agreement count is a
    * hash-aggregate on the pair key (O(candidate pairs)); the exact
    * Jaccard join touches only candidate docs' shingle sets. The
    * census output is ≤ 4×11 cells.
    */
  def q128LshCalibration(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val stacked = bandedSignatures(docs)
    val agree = stacked.as("a")
      .join(stacked.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(countDistinct(col("a.band")).as("bands_agree"))
    val sh = shingleSets(docs)
    agree
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("inter",
        size(array_intersect(col("sa.shset"), col("sb.shset"))))
      .withColumn("j_decile", expr(
        "(10 * inter) div (size(sa.shset) + size(sb.shset) - inter)"))
      .groupBy(col("bands_agree"), col("j_decile"))
      .agg(count(lit(1)).as("pairs"), min(col("doc_a")).as("min_doc_a"))
  }
  val q128Sql: String =
    s"""WITH ${verifiedPairsSqlCtes("documents")},
       |agree AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         count(DISTINCT a.band) AS bands_agree
       |  FROM stacked a JOIN stacked b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |cells AS (
       |  SELECT bands_agree,
       |         (10 * len(list_intersect(sa.shset, sb.shset)))
       |           // (len(sa.shset) + len(sb.shset)
       |               - len(list_intersect(sa.shset, sb.shset))) AS j_decile,
       |         doc_a
       |  FROM agree
       |  JOIN sh sa ON doc_a = sa.doc_id
       |  JOIN sh sb ON doc_b = sb.doc_id)
       |SELECT bands_agree, j_decile, count(*) AS pairs,
       |       min(doc_a) AS min_doc_a
       |FROM cells GROUP BY 1, 2""".stripMargin

  // ---------------------------------------- edit-distance verify (q131)

  /** Edit-distance verification census (q131): the FUZZY-match rung of
    * the dedup ladder — the same LSH candidates q44 verifies with
    * set-based Jaccard, re-verified with sequence-based Levenshtein
    * (normalized to permille of the longer text: 0 = identical, 1000 =
    * fully rewritten), censused by permille decile. Jaccard is blind
    * to ORDER (a paragraph shuffle scores ~1.0); edit distance is what
    * catches template farms that permute sentences and near-dups that
    * patch a few words — the two metrics' disagreement cells in this
    * census are exactly the pairs a curation reviewer needs to look
    * at.
    *
    * Cross-engine note: Spark's levenshtein is CHARACTER-based, DuckDB
    * 1.0's is BYTE-based — they agree only on ASCII (the testdata is;
    * asserted in the spec, where the non-ASCII divergence is pinned as
    * a known limit of the oracle, not of the operator).
    *
    * Scale shape: q44's exactly — candidates exist only inside
    * (band, sig) buckets, and only candidate docs' TEXT crosses the
    * verify join (the corpus never shuffles). Levenshtein is O(len²)
    * per pair — ~100× a Jaccard verify at this doc length — which is
    * WHY it runs on LSH candidates and never all-pairs; at 100 TB the
    * standard trick stack (band cap, length-difference prefilter |la−
    * lb| > threshold·max ⇒ skip) applies before the DP ever runs.
    */
  def q131EditDistanceVerify(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val txt = docs.select(col("doc_id"), col("text"),
      length(col("text")).as("len"))
    lshCandidates(docs)
      .join(txt.as("ta"), col("doc_a") === col("ta.doc_id"))
      .join(txt.as("tb"), col("doc_b") === col("tb.doc_id"))
      .withColumn("dist_pm", expr(
        "levenshtein(ta.text, tb.text) * 1000 div greatest(ta.len, tb.len, 1)"))
      .groupBy(expr("dist_pm div 100").as("dist_decile"))
      .agg(count(lit(1)).as("pairs"),
        min(col("dist_pm")).as("min_dist_pm"),
        max(col("dist_pm")).as("max_dist_pm"),
        min(col("doc_a")).as("min_doc_a"))
  }
  val q131Sql: String =
    s"""WITH ${verifiedPairsSqlCtes("documents")},
       |d AS (
       |  SELECT levenshtein(ta.text, tb.text) * 1000
       |           // greatest(length(ta.text), length(tb.text), 1) AS dist_pm,
       |         doc_a
       |  FROM pairs
       |  JOIN documents ta ON doc_a = ta.doc_id
       |  JOIN documents tb ON doc_b = tb.doc_id)
       |SELECT dist_pm // 100 AS dist_decile, count(*) AS pairs,
       |       min(dist_pm) AS min_dist_pm, max(dist_pm) AS max_dist_pm,
       |       min(doc_a) AS min_doc_a
       |FROM d GROUP BY 1""".stripMargin

  // -------------------------------------------------- segment dedup (q134)

  /** Segment width for q134's sub-document dedup — non-overlapping
    * (stride = width), unlike q121's RAG chunks: retention is only
    * well-defined when every character belongs to exactly one
    * segment. */
  private[graft] val SegW = 100

  /** Segment-level exact dedup with retention census (q134): the
    * RefinedWeb / CCNet sub-document pass — documents are cut into
    * non-overlapping 100-char segments, every repeated segment KEEPS
    * its first occurrence (global order = (doc_id, offset)) and drops
    * the rest, and what survives is censused per source: kept-segment
    * and kept-character retention, plus how many documents came
    * through fully intact. Doc-level dedup (q24/q25) misses exactly
    * this mass — boilerplate headers/footers repeat across documents
    * whose bodies differ, so whole-doc fingerprints never collide
    * while a third of the characters are still duplicated text.
    *
    * Scale shape: the segment fan-out is the q121 bounded `sequence`
    * explode, scan-side; first-occurrence-wins is ONE window over the
    * 16-byte fingerprint (exchange on fp — segment TEXT never
    * shuffles, and each window group is a duplicate clique, typically
    * a handful of rows); the per-doc rollup re-exchanges the
    * surviving (doc_id, flags) rows, and the census is O(sources).
    * No pairwise comparison, no corpus-scale sort, no driver state.
    * At 100 TB the fp exchange is the cost — hash-partitioned,
    * combiner-less but fixed-width rows; the q24 discipline.
    */
  /** (source, doc_id, off, fp, slen) segment rows of a documents
    * frame — ONE segmentation shared by batch q134 and the
    * incremental first-claim index (Streams.incrementalSegmentDedup),
    * so "a segment" can never mean two different cuts. */
  private[graft] def segmentsOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("len", length(col("text")))
      .select(col("source"), col("doc_id"),
        explode(sequence(lit(0), greatest(col("len") - 1, lit(0)),
          lit(SegW))).as("off"),
        col("text"))
      .select(col("source"), col("doc_id"), col("off"),
        expr(s"substring(text, off + 1, $SegW)").as("seg"))
      .select(col("source"), col("doc_id"), col("off"),
        md5(col("seg").cast("binary")).as("fp"),
        length(col("seg")).as("slen"))

  /** The q134 census over per-doc rollup rows (source, doc_id, segs,
    * kept_segs, chars, kept_chars) — shared tail for the batch query
    * and the incremental snapshot. */
  private[graft] def segmentCensusFrom(perDoc: DataFrame): DataFrame =
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(col("segs")).cast("long").as("segs"),
        sum(col("kept_segs")).cast("long").as("kept_segs"),
        sum(col("chars")).cast("long").as("chars"),
        sum(col("kept_chars")).cast("long").as("kept_chars"),
        count(when(col("kept_segs") === col("segs"), 1)).as("intact_docs"))
      // greatest(chars, 1): an all-empty-text source has chars = 0
      // (one zero-length segment per doc) — publish retention 0, not
      // a NULL-vs-division-error engine divergence
      .withColumn("retention_ppm",
        expr("kept_chars * 1000000 div greatest(chars, 1)"))

  def q134SegmentDedup(s: SparkSession, dir: String): DataFrame = {
    val segs = segmentsOf(Tables.documents(s, dir))
    val firstWins = Window.partitionBy(col("fp"))
      .orderBy(col("doc_id"), col("off"))
    val flagged = segs
      .withColumn("kept", (row_number().over(firstWins) === 1).cast("long"))
    val perDoc = flagged.groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("segs"),
        sum(col("kept")).cast("long").as("kept_segs"),
        sum(col("slen")).cast("long").as("chars"),
        sum(col("slen") * col("kept")).cast("long").as("kept_chars"))
    segmentCensusFrom(perDoc)
  }
  val q134Sql: String =
    s"""WITH seg AS (
       |  SELECT source, doc_id, off,
       |         md5(substr(text, off + 1, $SegW)) AS fp,
       |         length(substr(text, off + 1, $SegW)) AS slen
       |  FROM (SELECT source, doc_id, text,
       |               unnest(generate_series(0,
       |                 greatest(length(text) - 1, 0), $SegW)) AS off
       |        FROM documents)),
       |flagged AS (
       |  SELECT source, doc_id, slen,
       |         CASE WHEN row_number() OVER (
       |           PARTITION BY fp ORDER BY doc_id, off) = 1
       |           THEN 1 ELSE 0 END AS kept
       |  FROM seg),
       |per_doc AS (
       |  SELECT source, doc_id, count(*) AS segs,
       |         CAST(sum(kept) AS BIGINT) AS kept_segs,
       |         CAST(sum(slen) AS BIGINT) AS chars,
       |         CAST(sum(slen * kept) AS BIGINT) AS kept_chars
       |  FROM flagged GROUP BY 1, 2)
       |SELECT source, count(*) AS docs,
       |       CAST(sum(segs) AS BIGINT) AS segs,
       |       CAST(sum(kept_segs) AS BIGINT) AS kept_segs,
       |       CAST(sum(chars) AS BIGINT) AS chars,
       |       CAST(sum(kept_chars) AS BIGINT) AS kept_chars,
       |       count(CASE WHEN kept_segs = segs THEN 1 END) AS intact_docs,
       |       CAST(sum(kept_chars) AS BIGINT) * 1000000
       |         // greatest(CAST(sum(chars) AS BIGINT), 1) AS retention_ppm
       |FROM per_doc GROUP BY 1""".stripMargin

  // ------------------------------------------------ cluster purity (q138)

  /** Near-dup cluster purity census (q138): the false-positive audit
    * on the dedup ladder's own output — per cluster size, how many
    * clusters mix languages or sources. A shingle-Jaccard bar can
    * collide translations and boilerplate across feeds; a dedup pass
    * that silently deletes the only Spanish copy because an English
    * near-twin won the retention policy is a mixture bug (q98's
    * demotions) AND a quality bug, and this census is where it
    * surfaces before the policy runs.
    *
    * Scale shape: membership comes from the star-contraction
    * components over the verified edge list — O(docs-in-pairs) rows,
    * tiny against the corpus, which is touched only by the shared LSH
    * ladder ([[verifiedPairs]]); the metadata join, the per-cluster
    * distinct census (two countDistincts on the SMALL member set —
    * the q37 Expand trap doesn't bite at O(members) grain), and the
    * per-size rollup all operate below corpus grain.
    */
  def q138ClusterPurity(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val member = graft.ops.ConnectedComponents
      .assign(verifiedEdges(docs)
        .select(col("doc_a").as("u"), col("doc_b").as("v")))
      .select(col("node").as("doc_id"), col("component").as("cluster_id"))
      .join(docs.select(col("doc_id"), col("lang"), col("source")),
        Seq("doc_id"))
    member.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("clusters"),
        count(when(col("n_langs") > 1, 1)).as("xlang_clusters"),
        count(when(col("n_sources") > 1, 1)).as("xsource_clusters"),
        min(col("cluster_id")).as("min_cluster_id"))
  }
  /** Fuzzy split leakage (q144): eval hygiene one rung above q93 —
    * q93 catches EXACT fingerprint collisions across train/val/test;
    * this censuses the verified NEAR-dup pairs (the q46 edge list,
    * Jaccard ≥ 0.5) by the split pair they straddle. A val doc whose
    * near-twin sits in train inflates eval scores without any exact
    * hash ever colliding — the leakage mode n-gram-decontamination
    * papers exist for. Output per unordered split pair: edge count,
    * distinct docs implicated, min doc id; the off-diagonal rows
    * (train,val / train,test / val,test) are the contamination mass a
    * release gate reads.
    *
    * Scale shape: edges come from the shared LSH ladder (never
    * all-pairs); the split labels are scan-side doc_id hashes (q77's
    * cut — no join to assign them), and both censuses run at
    * O(pairs) grain. */
  def q144FuzzyLeakage(s: SparkSession, dir: String): DataFrame = {
    val lab = verifiedEdges(Tables.documents(s, dir))
      .withColumn("la", Text.splitLabel(col("doc_a")))
      .withColumn("lb", Text.splitLabel(col("doc_b")))
      .select(least(col("la"), col("lb")).as("split_lo"),
        greatest(col("la"), col("lb")).as("split_hi"),
        col("doc_a"), col("doc_b"))
    val pairs = lab.groupBy(col("split_lo"), col("split_hi"))
      .agg(count(lit(1)).as("pairs"), min(col("doc_a")).as("min_doc_a"))
    val docs = lab
      .select(col("split_lo"), col("split_hi"),
        explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy(col("split_lo"), col("split_hi"))
      .agg(countDistinct(col("d")).as("docs_implicated"))
    pairs.join(docs, Seq("split_lo", "split_hi"))
  }
  val q144Sql: String = {
    def lbl(c: String) = s"(${Text.splitLabelSql.replace("doc_id", c)})"
    s"""WITH ${verifiedPairsSqlCtes("documents")},
       |lab AS (
       |  SELECT least(la, lb) AS split_lo, greatest(la, lb) AS split_hi,
       |         doc_a, doc_b
       |  FROM (SELECT doc_a, doc_b, ${lbl("doc_a")} AS la, ${lbl("doc_b")} AS lb
       |        FROM scored WHERE jaccard >= 0.5)),
       |pc AS (SELECT split_lo, split_hi, count(*) AS pairs,
       |              min(doc_a) AS min_doc_a
       |       FROM lab GROUP BY 1, 2),
       |di AS (SELECT split_lo, split_hi, count(DISTINCT d) AS docs_implicated
       |       FROM (SELECT split_lo, split_hi, unnest([doc_a, doc_b]) AS d
       |             FROM lab)
       |       GROUP BY 1, 2)
       |SELECT split_lo, split_hi, pairs, min_doc_a, docs_implicated
       |FROM pc JOIN di USING (split_lo, split_hi)""".stripMargin
  }

  /** Decontaminated split manifest (q150): q144's census turned into
    * the ACTION a release gate takes — for every verified near-dup
    * edge that straddles the split cut, drop the deterministic loser
    * (the eval side of a train↔eval edge — train is never touched;
    * the test side of a val↔test edge) and publish the per-split
    * before/dropped/after sizes. This is the n-gram-decontamination
    * remedy at near-dup grain: q93 removes exact copies, q144 shows
    * where the fuzzy leakage sits, q150 is the cleaned manifest a
    * trainer actually consumes.
    *
    * Scale shape: the drop set derives from the shared LSH ladder's
    * edge list (O(pairs), never the corpus) and BROADCASTS back onto
    * one corpus scan for the census — the q98 demotion shape, split
    * edition. Split labels are scan-side doc_id hashes on both the
    * edge and corpus sides, so no join assigns them. */
  def q150DecontaminatedSplits(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val lab = verifiedEdges(docs)
      .select(Text.splitLabel(col("doc_a")).as("la"), col("doc_a"),
        Text.splitLabel(col("doc_b")).as("lb"), col("doc_b"))
    val drops = lab.filter(col("la") =!= col("lb"))
      .select(when(col("la") === "train", col("doc_b"))
        .when(col("lb") === "train", col("doc_a"))
        .when(col("la") === "test", col("doc_a"))
        .otherwise(col("doc_b")).as("doc_id"))
      .distinct()
      .withColumn("dropped", lit(1))
    docs.select(col("doc_id"), Text.splitLabel(col("doc_id")).as("split"))
      .join(broadcast(drops), Seq("doc_id"), "left")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("docs_before"),
        count(col("dropped")).as("docs_dropped"))
      .withColumn("docs_after", expr("docs_before - docs_dropped"))
      .withColumn("dropped_ppm",
        expr("docs_dropped * 1000000 div docs_before"))
  }
  val q150Sql: String = {
    def lbl(c: String) = s"(${Text.splitLabelSql.replace("doc_id", c)})"
    s"""WITH ${verifiedPairsSqlCtes("documents")},
       |lab AS (
       |  SELECT ${lbl("doc_a")} AS la, doc_a, ${lbl("doc_b")} AS lb, doc_b
       |  FROM scored WHERE jaccard >= 0.5),
       |drops AS (
       |  SELECT DISTINCT CASE WHEN la = 'train' THEN doc_b
       |                       WHEN lb = 'train' THEN doc_a
       |                       WHEN la = 'test' THEN doc_a
       |                       ELSE doc_b END AS doc_id
       |  FROM lab WHERE la <> lb),
       |base AS (SELECT doc_id, (${Text.splitLabelSql}) AS split
       |         FROM documents)
       |SELECT split, count(*) AS docs_before,
       |       count(d.doc_id) AS docs_dropped,
       |       count(*) - count(d.doc_id) AS docs_after,
       |       count(d.doc_id) * 1000000 // count(*) AS dropped_ppm
       |FROM base LEFT JOIN drops d USING (doc_id)
       |GROUP BY 1""".stripMargin
  }

  val q138Sql: String =
    s"""WITH RECURSIVE ${verifiedPairsSqlCtes("documents")},
       |$clustersSqlCtes,
       |mem AS (
       |  SELECT c.doc_id, c.cluster_id, d.lang, d.source
       |  FROM clustered c JOIN documents d USING (doc_id)),
       |per AS (
       |  SELECT cluster_id, count(*) AS cluster_size,
       |         count(DISTINCT lang) AS n_langs,
       |         count(DISTINCT source) AS n_sources
       |  FROM mem GROUP BY 1)
       |SELECT cluster_size, count(*) AS clusters,
       |       count(CASE WHEN n_langs > 1 THEN 1 END) AS xlang_clusters,
       |       count(CASE WHEN n_sources > 1 THEN 1 END) AS xsource_clusters,
       |       min(cluster_id) AS min_cluster_id
       |FROM per GROUP BY 1""".stripMargin
}
