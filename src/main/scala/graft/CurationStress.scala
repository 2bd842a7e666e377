package graft

import graft.queries.{Bpe, Dedup, Events, Stats, Text}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Corpus-curation scale stress (round-4 ops): replicates the
  * documents corpus R× into a temp parquet dir — doc_ids offset into
  * disjoint ranges, each replica's sources renamed to fresh feeds
  * (`src4_7`) — and times the curation passes on the inflated corpus:
  *
  *  - q74 span census: the gram table grows linearly with R, but
  *    replication makes EVERY gram cross-doc-duplicated (nd ≥ R), so
  *    the semi-join passes the entire exploded table — the worst case
  *    for the join, the exact shape of a boilerplate-saturated crawl.
  *  - q81 source overlap: feeds grow R× (matrix R²×|src|²); replica
  *    feeds carry identical gram sets, so the matrix must report
  *    8/8 matches for every replica pair — the "src19 is src4 again"
  *    signal the op exists to catch, asserted here at scale.
  *  - q79/q80 BPE train + apply: the corpus pass grows linearly; the
  *    merge rounds stay vocab-bounded (the point of the design).
  *  - q95 bigram surprisal: replication adds NO distinct bigrams, so
  *    the model table is R-invariant; only the corpus-side scoring
  *    join grows (linearly) — the design's scale claim, timed here.
  *  - q98 post-dedup mixture: replicas are exact near-dups, so the
  *    retention policy must collapse the R× corpus back to the SAME
  *    survivor set the unreplicated corpus keeps (the base corpus has
  *    its own near-dup clusters, which dedup also trims) — asserted:
  *    surviving token mass at R× equals surviving token mass at 1×.
  *
  * Round-7 tail (the r6 rungs + the skew remedy, at scale):
  *
  *  - q104 vs q95: the hot-pair split against the flat scoring join on
  *    the same inflated corpus — the measured flat-vs-split crossover
  *    row PLANS.md records.
  *  - q99 held-out surprisal: timed at R×; asserted: the TRAIN model's
  *    distinct bigram-type count stays ≤ the base corpus's type count
  *    at any R — replication adds corpus rows, never model rows (the
  *    split is doc_id-salted, so replicas re-split; types still can't
  *    exceed the base inventory).
  *  - q101 re-id census over R×-replicated events (users cloned with
  *    fresh ids, identical behavior): every anonymity set of size k
  *    must become EXACTLY size R·k with the same signature count —
  *    the census's scaling law, asserted bit-exact.
  *  - q102 explode vs q103 fused bootstrap at R× (the B×-row-stream
  *    trade at scale); asserted: each replica source's mean stays
  *    within bootstrap noise of its base source's mean (same docs,
  *    fresh seeded weights), no replica starves.
  *
  * Usage: CurationStress [reps]   (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)
  */
object CurationStress {
  def main(args: Array[String]): Unit = {
    val reps = if (args.nonEmpty) args(0).toInt else 10
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.build()

    // run-unique scratch roots (Streams.scratchDir: mkdtemp + JVM-exit
    // cleanup), so two concurrent sweeps at the same reps value can
    // never race on a shared fixed /tmp path
    val stressDir =
      graft.streaming.Streams.scratchDir(s"graft_curation_stress_$reps")
    // replica ids must not collide with real ones: derive the stride
    // from the actual corpus (max id + 1), not a fixed constant that a
    // larger SF would silently overflow into
    val base = Tables.documents(spark, sfDir)
      .agg(org.apache.spark.sql.functions.max(col("doc_id"))).head().getLong(0) + 1L
    Tables.documents(spark, sfDir)
      .crossJoin(spark.range(reps).toDF("rep"))
      .select(
        (col("doc_id") + col("rep") * base).as("doc_id"),
        col("text"), col("lang"),
        concat(col("source"), lit("_"), col("rep")).as("source"),
        col("n_chars"))
      .write.mode("overwrite").parquet(s"$stressDir/documents.parquet")

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = f
      (v, (System.nanoTime() - t0) / 1e9)
    }
    def noop(df: org.apache.spark.sql.DataFrame): Long = df.count()

    // untimed warmup (classes + codegen) on the unreplicated corpus
    noop(Dedup.q74CrossdocSpans(spark, sfDir))
    noop(Dedup.q81SourceOverlap(spark, sfDir))
    noop(Bpe.q79BpeMerges(spark, sfDir))
    noop(Bpe.q80BpeTokenize(spark, sfDir))

    val (spanRows, tSpan) = time(noop(Dedup.q74CrossdocSpans(spark, stressDir)))
    // timed region = the matrix query alone; the replica-detection
    // assertion's bookkeeping jobs run after the clock stops
    val (q81Full, tOverlap) = time(
      Dedup.q81SourceOverlap(spark, stressDir)
        .filter(col("matching_minhashes") === Dedup.SourceMinHashes.toLong)
        .count())
    val expectedFull = reps.toLong * (reps - 1) / 2 *
      Tables.documents(spark, sfDir).select(col("source")).distinct().count()
    // every replica pair (same base feed) must report a full match
    assert(q81Full >= expectedFull,
      s"replica feeds not detected: $q81Full full matches < $expectedFull")
    val (_, tTrain) = time(noop(Bpe.q79BpeMerges(spark, stressDir)))
    val (_, tApply) = time(noop(Bpe.q80BpeTokenize(spark, stressDir)))
    noop(Text.q95BigramSurprisal(spark, sfDir)) // warmup
    val (_, tBigram) = time(noop(Text.q95BigramSurprisal(spark, stressDir)))
    // warmup doubles as the 1× reference point
    val refTok = queries.PipelineQ.q98DedupedMixture(spark, sfDir)
      .agg(sum(col("tokens"))).head().getLong(0)
    val (survTok, tMix) = time {
      queries.PipelineQ.q98DedupedMixture(spark, stressDir)
        .agg(sum(col("tokens"))).head().getLong(0)
    }
    // every doc is an exact near-dup of its R-1 replicas, so the
    // policy keeps ONE copy corpus-wide — EXCEPT docs under the LSH
    // shingle floor (< 3 tokens never enter verifiedPairs, so all R
    // copies survive by design). The R× survivor mass must equal the
    // 1× survivor mass plus the (R-1) extra copies of that
    // unclusterable tail (zero in current testdata, but the invariant
    // shouldn't depend on that).
    val shortTok = Tables.documents(spark, sfDir)
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .filter(col("n") < 3).agg(coalesce(sum(col("n")), lit(0L)))
      .head().getLong(0)
    val expected = refTok + (reps - 1L) * shortTok
    assert(survTok == expected,
      s"dedup must collapse the R× corpus to 1× (+ sub-shingle tail): " +
        s"survivors $survTok != expected $expected (ref $refTok, short $shortTok)")

    // ---- round-7 tail: skew-safe crossover + the r6 rungs at scale

    // q104 vs q95 (tBigram above) on the same inflated corpus
    noop(Text.q104BigramSkewSafe(spark, sfDir)) // warmup
    val (_, tSkew) = time(noop(Text.q104BigramSkewSafe(spark, stressDir)))

    // q99: corpus side grows R×, the model side must stay type-bounded
    noop(Text.q99HeldoutSurprisal(spark, sfDir)) // warmup
    val (_, tHeldout) = time(noop(Text.q99HeldoutSurprisal(spark, stressDir)))
    def bigramTypes(df: org.apache.spark.sql.DataFrame): Long = df
      .select(split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr("transform(sequence(0, size(toks) - 2), " +
        "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")).as("bg"))
      .select(col("bg.w1"), col("bg.w2")).distinct().count()
    val baseTypes = bigramTypes(Tables.documents(spark, sfDir))
    val trainTypesR = bigramTypes(Tables.documents(spark, stressDir)
      .filter(Text.splitLabel(col("doc_id")) === "train"))
    assert(trainTypesR <= baseTypes,
      s"q99 train model grew past the base type inventory at R×: " +
        s"$trainTypesR > $baseTypes — replication must add corpus, not model")

    // q101: replicate events (fresh user/event ids, identical behavior)
    val userStride = Tables.events(spark, sfDir)
      .agg(max(col("user_id"))).head().getLong(0) + 1L
    val eventStride = Tables.events(spark, sfDir)
      .agg(max(col("event_id"))).head().getLong(0) + 1L
    Tables.events(spark, sfDir)
      .crossJoin(spark.range(reps).toDF("rep"))
      .select(
        (col("event_id") + col("rep") * eventStride).as("event_id"),
        col("ts"),
        (col("user_id") + col("rep") * userStride).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$stressDir/events.parquet")
    noop(Events.q101ReidRisk(spark, sfDir)) // warmup
    val base101 = Events.q101ReidRisk(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (got101raw, tReid) = time(Events.q101ReidRisk(spark, stressDir).collect())
    val got101 = got101raw
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want101 = base101.map { case (k, (sigs, _)) =>
      (k * reps) -> (sigs, k * reps * sigs) }
    assert(got101 == want101,
      s"q101 scaling law broken: cloned users must scale every anonymity " +
        s"set k → ${reps}k exactly; got $got101, want $want101")

    // q102 explode vs q103 fused at R×; replica-mean stability
    noop(Stats.q102BootstrapMoments(spark, sfDir)) // warmup
    noop(Stats.q103BootstrapFused(spark, sfDir))
    val base102 = Stats.q102BootstrapMoments(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    val (rep102, tBoot) = time(Stats.q102BootstrapMoments(spark, stressDir).collect())
    val (_, tBootFused) = time(noop(Stats.q103BootstrapFused(spark, stressDir)))
    val bootN = Stats.BootReplicas.toDouble
    rep102.foreach { r =>
      val src = r.getString(0)
      val (meanB, ssB) = base102(src.substring(0, src.lastIndexOf('_')))
      assert(r.getLong(1) == Stats.BootReplicas.toLong,
        s"q102 replica starved at R× for $src")
      // same docs, fresh seeded weights: the replica source's mean must
      // sit within bootstrap noise of its base source's. sd(mean of the
      // B replica means) = sqrt(ss)/B^1.5 (ss = B·Σm²−(Σm)²); 6σ from
      // BOTH sides plus integer-floor slack
      val bound = 6.0 * (math.sqrt(ssB.toDouble) +
        math.sqrt(r.getLong(3).toDouble)) / math.pow(bootN, 1.5) + 2.0
      val diff = math.abs(r.getLong(2) - meanB).toDouble
      assert(diff <= bound,
        s"q102 replica mean drifted past bootstrap noise for $src: " +
          s"|${r.getLong(2)} - $meanB| = $diff > $bound")
    }

    // flat-vs-split crossover, measured where it can actually appear:
    // the testdata has NO Zipf head (hottest pair = 0.13% of bigram
    // mass), so plant one — a boilerplate preamble on every doc, the
    // boilerplate-saturated-crawl shape — and turn auto-broadcast OFF
    // to simulate the 100 TB regime where the model outgrows broadcast
    // and the flat scoring join really shuffles. q104's explicit
    // broadcast() of the hot 1024 survives the threshold; its tail
    // join shuffles only the non-boilerplate remainder.
    val skewDir = s"$stressDir/skew"
    val boiler = "terms of service apply all rights reserved contact " +
      "us for details cookie policy accepted by continued use"
    Tables.documents(spark, stressDir)
      .select(col("doc_id"), concat(lit(boiler + " "), col("text")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$skewDir/documents.parquet")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (flatRows, tFlatSkew) = time(noop(Text.q95BigramSurprisal(spark, skewDir)))
    val (splitRows, tSplitSkew) = time(noop(Text.q104BigramSkewSafe(spark, skewDir)))
    // held-out edition on the same boilerplate corpus: q153's split vs
    // q99's flat left-joins (the boilerplate head rides the broadcasts,
    // both the pair AND the context key)
    val (flatHeldRows, tFlatHeld) = time(noop(Text.q99HeldoutSurprisal(spark, skewDir)))
    val (splitHeldRows, tSplitHeld) = time(noop(Text.q153HeldoutSkewSafe(spark, skewDir)))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    assert(flatRows == splitRows,
      s"flat and split censuses disagree on the skew corpus: $flatRows != $splitRows")
    assert(flatHeldRows == splitHeldRows,
      s"flat and split held-out censuses disagree on the skew corpus: " +
        s"$flatHeldRows != $splitHeldRows")

    // ---- round-7 second wave (q108/q109/q111/q112/q114) at scale

    // q108: replica feeds are exact copies of their base feed, so the
    // per-source lexical census must be REPLICATION-INVARIANT row-wise
    // (same tokens/types/hapax per feed) — the shuffle stays
    // O(feeds×vocab) while the corpus grows R×
    noop(Text.q108LexicalDiversity(spark, sfDir)) // warmup + 1× reference
    val base108 = Text.q108LexicalDiversity(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (rep108, tLex) = time(Text.q108LexicalDiversity(spark, stressDir).collect())
    rep108.foreach { r =>
      val src = r.getString(0)
      val want = base108(src.substring(0, src.lastIndexOf('_')))
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == want,
        s"q108 replica feed $src drifted from its base census: " +
          s"(${r.getLong(1)},${r.getLong(2)},${r.getLong(3)}) != $want")
    }

    // q112: at R× every >=3-token doc is in a near-dup cluster with
    // its replicas, so per quality bucket (replication-invariant per
    // doc): docs scale R×, unclustered collapses to R× the sub-shingle
    // tail, and kept representatives = 1× kept + 1× clusterable
    // unclustered (each base-singleton's replica clique keeps ONE)
    noop(Dedup.q112QualityDedupGrid(spark, sfDir)) // warmup + 1× reference
    val base112 = Dedup.q112QualityDedupGrid(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val shortDocs = Tables.documents(spark, sfDir)
      .select(size(split(col("text"), " ")).as("n"), col("text"), col("n_chars"))
      .filter(col("n") < 3)
      .withColumn("quality", graft.ops.TextOps.qualityBucket(
        split(col("text"), " "), col("n_chars")))
      .groupBy(col("quality")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (rep112, tGrid) = time(Dedup.q112QualityDedupGrid(spark, stressDir).collect())
    rep112.foreach { r =>
      val q = r.getString(0)
      val (docs1, un1, kept1) = base112(q)
      val short1 = shortDocs.getOrElse(q, 0L)
      assert(r.getLong(1) == reps * docs1,
        s"q112 $q docs must scale R×: ${r.getLong(1)} != ${reps * docs1}")
      assert(r.getLong(2) == reps * short1,
        s"q112 $q unclustered must collapse to the sub-shingle tail: " +
          s"${r.getLong(2)} != ${reps * short1}")
      assert(r.getLong(3) == kept1 + (un1 - short1),
        s"q112 $q kept must be 1× kept + newly-clustered singletons: " +
          s"${r.getLong(3)} != ${kept1 + (un1 - short1)}")
    }

    // q109: cloned users replay identical µs sequences → every
    // (type, bucket) cell scales count ×R with min/max gaps unchanged
    noop(Events.q109IntereventGaps(spark, sfDir)) // warmup + 1× reference
    val base109 = Events.q109IntereventGaps(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (rep109, tGaps) = time(Events.q109IntereventGaps(spark, stressDir).collect())
    val got109 = rep109.map(r => (r.getString(0), r.getInt(1)) ->
      (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got109 == base109.map { case (k, (c, mn, mx)) => k -> (c * reps, mn, mx) },
      "q109 scaling law broken: cloned users must scale every gap cell ×R")

    // q111: replicating the value multiset preserves median and MAD
    // exactly (same distribution), scales n and outliers ×R, leaves
    // the ppm rate bit-identical
    noop(Stats.q111MadOutliers(spark, sfDir)) // warmup + 1× reference
    val base111 = Stats.q111MadOutliers(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getLong(5))).toMap
    val (rep111, tMad) = time(Stats.q111MadOutliers(spark, stressDir).collect())
    rep111.foreach { r =>
      val (n1, med1, mad1, out1, ppm1) = base111(r.getString(0))
      assert((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4),
        r.getLong(5)) == ((reps * n1, med1, mad1, reps * out1, ppm1)),
        s"q111 ${r.getString(0)}: replication must preserve median/MAD/ppm " +
          s"and scale n/outliers ×R")
    }

    // q114: replication densifies every component toward a clique
    // (each base node becomes an R-clique, each base edge a complete
    // R×R bipartite block) — the clustering coefficient must move UP
    // into the clique regime, the regime the census exists to detect
    noop(Dedup.q114TriangleCensus(spark, sfDir)) // warmup + 1× reference
    val base114 = Dedup.q114TriangleCensus(spark, sfDir).collect().head
    val (rep114arr, tTri) = time(Dedup.q114TriangleCensus(spark, stressDir).collect())
    val rep114 = rep114arr.head
    assert(rep114.getLong(3) > 0, "no triangles on the replicated corpus")
    assert(rep114.getLong(4) >= base114.getLong(4),
      s"q114 cc must densify under replication: " +
        s"${rep114.getLong(4)} < ${base114.getLong(4)}")

    // ---- round-7 third wave (q121/q122/q126/q127) at scale

    // q121: chunking is a pure per-doc function of text, so every
    // replica feed's chunk census must be ROW-IDENTICAL to its base
    // feed's (source renamed, same texts) — chunk counts, distinct
    // fingerprints, dup ppm, mean width all invariant
    noop(Text.q121DocChunks(spark, sfDir)) // warmup + 1× reference
    val base121 = Text.q121DocChunks(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val (rep121, tChunk) = time(Text.q121DocChunks(spark, stressDir).collect())
    rep121.foreach { r =>
      val src = r.getString(0)
      val want = base121(src.substring(0, src.lastIndexOf('_')))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)) == want,
        s"q121 replica feed $src drifted from its base chunk census")
    }

    // q122: cloned users replay identical hourly behavior under fresh
    // ids → every carried state's grid/observed/user counts scale ×R
    // exactly (the grid is per-user, so replication is key-parallel)
    noop(Events.q122LocfGrid(spark, sfDir)) // warmup + 1× reference
    val base122 = Events.q122LocfGrid(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (rep122, tLocf) = time(Events.q122LocfGrid(spark, stressDir).collect())
    val got122 = rep122
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got122 == base122.map { case (k, (g, o, u)) =>
      k -> (g * reps, o * reps, u * reps) },
      "q122 scaling law broken: cloned users must scale every state cell ×R")

    // q126: replica docs carry FRESH doc_ids, so their masks are fresh
    // draws of the same 15% position-hash — positions per feed are
    // invariant (same texts), the realized rate stays in the envelope
    noop(Text.q126MaskPlan(spark, sfDir)) // warmup + 1× reference
    val base126 = Text.q126MaskPlan(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (rep126, tMask) = time(Text.q126MaskPlan(spark, stressDir).collect())
    rep126.foreach { r =>
      val src = r.getString(0)
      assert(r.getLong(1) == base126(src.substring(0, src.lastIndexOf('_'))),
        s"q126 $src position count drifted — tokenization is per-doc")
      assert(r.getLong(4) > 100000L && r.getLong(4) < 200000L,
        s"q126 $src mask rate ${r.getLong(4)} ppm left the 15%±5pp envelope")
    }

    // q127: the score multiset replicates exactly (same texts), so the
    // positional deciles each hold R× their base doc count and the
    // global envelope endpoints are unchanged. The per-decile R× law
    // needs 10 | N (ntile remainder buckets don't scale linearly:
    // N=15, R=3 gives base 2,2,...,1 but 45 rows split 5,5,...,4, not
    // 6,...,3) — assert the precondition instead of failing cryptically
    val nDocs = Tables.documents(spark, sfDir).count()
    require(nDocs % 10 == 0,
      s"q127 stress law needs a doc count divisible by 10, got $nDocs")
    noop(Text.q127CurriculumDeciles(spark, sfDir)) // warmup + 1× reference
    val base127 = Text.q127CurriculumDeciles(spark, sfDir).collect()
      .sortBy(_.getInt(0))
    val (rep127arr, tCur) = time(Text.q127CurriculumDeciles(spark, stressDir).collect())
    val rep127 = rep127arr.sortBy(_.getInt(0))
    rep127.zip(base127).foreach { case (r, b) =>
      assert(r.getLong(1) == reps * b.getLong(1),
        s"q127 decile ${r.getInt(0)} must hold R× its base docs") }
    assert(rep127.head.getLong(3) == base127.head.getLong(3) &&
      rep127.last.getLong(4) == base127.last.getLong(4),
      "q127 global score envelope moved under replication")

    // ---- round-7 fourth wave (q134/q137/q139) at scale

    // q134: replica docs carry the same text under fresh doc_ids, so
    // every replica segment duplicates a base segment. Two laws: each
    // replica FEED's segment inventory (segs, chars) is row-identical
    // to its base feed's (segmentation is per-doc), and the GLOBAL
    // kept mass is R-invariant — first-occurrence-wins keeps exactly
    // one copy per distinct fingerprint no matter how many replicas
    // pile on (the q98 survivor-mass law at segment grain)
    noop(Dedup.q134SegmentDedup(spark, sfDir)) // warmup + 1× reference
    val base134 = Dedup.q134SegmentDedup(spark, sfDir).collect()
    val base134ByFeed = base134
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(4))).toMap
    val (rep134, tSeg) = time(Dedup.q134SegmentDedup(spark, stressDir).collect())
    rep134.foreach { r =>
      val src = r.getString(0)
      val want = base134ByFeed(src.substring(0, src.lastIndexOf('_')))
      assert((r.getLong(2), r.getLong(4)) == want,
        s"q134 replica feed $src segment inventory drifted from its base")
    }
    assert(rep134.map(_.getLong(3)).sum == base134.map(_.getLong(3)).sum,
      "q134 kept mass must be R-invariant: one survivor per distinct " +
        "fingerprint, corpus-wide")

    // q137: replication multiplies c2, both marginals and N by exactly
    // R, so lift_ppm = c2·N·10⁶÷(c1·c_r) is bit-invariant — the top-20
    // table must reproduce with counts ×R and everything else equal
    noop(Text.q137PmiPairs(spark, sfDir)) // warmup + 1× reference
    val base137 = Text.q137PmiPairs(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    val (rep137raw, tPmi) = time(Text.q137PmiPairs(spark, stressDir).collect())
    val rep137 = rep137raw.map(r => (r.getInt(0), r.getString(1),
      r.getString(2), r.getLong(3), r.getLong(4)))
    assert(rep137.toSeq == base137.toSeq.map { case (rk, w1, w2, c2, lift) =>
      (rk, w1, w2, c2 * reps, lift) },
      "q137 lift must be replication-invariant with counts ×R")

    // q139: cloned users replay identical sessions under fresh ids →
    // every transition cell scales ×R with conditional ppm unchanged
    noop(Events.q139SessionTransitions(spark, sfDir)) // warmup + 1× ref
    val base139 = Events.q139SessionTransitions(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val (rep139, tTrans) = time(
      Events.q139SessionTransitions(spark, stressDir).collect())
    val got139 = rep139.map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getLong(3))).toMap
    assert(got139 == base139.map { case (k, (c, p)) => k -> (c * reps, p) },
      "q139 scaling law broken: cloned users must scale every transition " +
        "cell ×R with P(to|from) unchanged")

    // q194: cloned users replay identical state runs under fresh ids →
    // intervals/closed/duration mass all scale ×R per state while the
    // longest single interval is R-invariant (no run spans users); the
    // window chain stays key-parallel on user_id, so wall tracks the
    // q139/q122 exchange shape, never a global sort
    noop(queries.Temporal.q194Scd2Intervals(spark, sfDir)) // warmup + ref
    val base194 = queries.Temporal.q194Scd2Intervals(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (rep194, tScd) = time(
      queries.Temporal.q194Scd2Intervals(spark, stressDir).collect())
    val got194 = rep194.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got194 == base194.map { case (k, (n, c, s, m)) =>
      k -> (n * reps, c * reps, s * reps, m) },
      "q194 scaling law broken: cloned users must scale every interval " +
        "cell ×R with the max duration unchanged")

    // q197: a SEPARATE replication with the doc_id stride rounded up
    // to a multiple of 70, so doc_id mod 10 and mod 7 — the snapshot
    // membership and churn rules — are preserved per replica: every
    // replica doc lands in the SAME diff class as its base doc, and
    // every (source, class) census cell must scale EXACTLY ×R. The
    // manifests under the join grow R×; the join stays doc_id-keyed.
    val diffDir =
      graft.streaming.Streams.scratchDir(s"graft_diff_stress_$reps")
    val stride70 = ((base + 69L) / 70L) * 70L
    Tables.documents(spark, sfDir)
      .crossJoin(spark.range(reps).toDF("rep"))
      .select((col("doc_id") + col("rep") * stride70).as("doc_id"),
        col("text"), col("lang"),
        concat(col("source"), lit("_"), col("rep")).as("source"),
        col("n_chars"))
      .write.mode("overwrite").parquet(s"$diffDir/documents.parquet")
    noop(queries.PipelineQ.q197SnapshotDiff(spark, sfDir)) // warmup + ref
    val base197 = queries.PipelineQ.q197SnapshotDiff(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (rep197, tDiff) = time(
      queries.PipelineQ.q197SnapshotDiff(spark, diffDir).collect())
    // the census emits ONE row per source, so the law is row-exact:
    // replica feed `src_<rep>` must carry its base source's cell
    // verbatim, and every (base, rep) pair must appear exactly once
    // — stripping the LAST `_<rep>` segment, never a prefix (a base
    // source name containing '_' must not merge groups)
    assert(rep197.length == base197.size * reps,
      s"q197: expected ${base197.size * reps} replica rows, got ${rep197.length}")
    rep197.foreach { r =>
      val src = r.getString(0)
      val baseSrc = src.substring(0, src.lastIndexOf('_'))
      val cell = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(base197.get(baseSrc).contains(cell),
        s"q197 scaling law broken: $src must replay $baseSrc's cell " +
          s"verbatim (got $cell, want ${base197.get(baseSrc)})")
    }

    // q193: replicate the WHOLE FK chain (customer→orders→lineitem +
    // events) with consistent key strides — acctbal is preserved, so
    // the tombstone rule fires identically per replica and purge
    // propagation must scale every census cell EXACTLY ×R with
    // residual_refs pinned at 0. The lake-scale claim under test: the
    // transitive purge stays a key-join cascade, never a rescan whose
    // cost depends on the tombstone count.
    val purgeDir =
      graft.streaming.Streams.scratchDir(s"graft_purge_stress_$reps")
    val ckS = Tables.customer(spark, sfDir)
      .agg(max(col("c_custkey"))).head().getLong(0) + 1L
    val okS = Tables.orders(spark, sfDir)
      .agg(max(col("o_orderkey"))).head().getLong(0) + 1L
    Tables.customer(spark, sfDir).crossJoin(spark.range(reps).toDF("rep"))
      .select((col("c_custkey") + col("rep") * ckS).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$purgeDir/customer.parquet")
    Tables.orders(spark, sfDir).crossJoin(spark.range(reps).toDF("rep"))
      .select((col("o_orderkey") + col("rep") * okS).as("o_orderkey"),
        (col("o_custkey") + col("rep") * ckS).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$purgeDir/orders.parquet")
    Tables.lineitem(spark, sfDir).crossJoin(spark.range(reps).toDF("rep"))
      .select((col("l_orderkey") + col("rep") * okS).as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate"))
      .write.mode("overwrite").parquet(s"$purgeDir/lineitem.parquet")
    Tables.events(spark, sfDir).crossJoin(spark.range(reps).toDF("rep"))
      .select((col("event_id") + col("rep") * eventStride).as("event_id"),
        col("ts"), (col("user_id") + col("rep") * ckS).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$purgeDir/events.parquet")
    noop(Events.q193DeletionPropagation(spark, sfDir)) // warmup + 1× ref
    val base193 = Events.q193DeletionPropagation(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (rep193, tPurge) = time(
      Events.q193DeletionPropagation(spark, purgeDir).collect())
    val got193 = rep193.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got193 == base193.map { case (k, (t, p, kept, _)) =>
      k -> (t * reps, p * reps, kept * reps, 0L) },
      s"q193 scaling law broken: the transitive purge must scale every " +
        s"cell ×R with residual 0 (got $got193)")

    // q142: packing is a pure function of (texts in doc_id order) per
    // feed, and replica feeds preserve both — every replica feed's
    // packing census must be ROW-IDENTICAL to its base feed's
    // (sequences, masses, modality mix, fill)
    noop(queries.MultimodalQ.q142MultimodalPacking(spark, sfDir)) // warmup + ref
    val base142 = queries.MultimodalQ.q142MultimodalPacking(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val (rep142, tPack) = time(
      queries.MultimodalQ.q142MultimodalPacking(spark, stressDir).collect())
    rep142.foreach { r =>
      val src = r.getString(0)
      val want = base142(src.substring(0, src.lastIndexOf('_')))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)) == want,
        s"q142 replica feed $src packing census drifted from its base")
    }

    // q149: the datasheet's scaling laws — size ×R, diversity feeds
    // ×R with langs invariant, distinct fingerprints INVARIANT (every
    // replica duplicates a base doc), so the exact-dup rate obeys
    // (R·docs − fps)·10⁶ ÷ (R·docs) exactly; mean TTR invariant
    noop(queries.PipelineQ.q149DatasetCard(spark, sfDir)) // warmup + ref
    val baseCard = queries.PipelineQ.q149DatasetCard(spark, sfDir).collect()(0)
    val (repCardArr, tCard) = time(
      queries.PipelineQ.q149DatasetCard(spark, stressDir).collect())
    val repCard = repCardArr(0)
    def card(r: org.apache.spark.sql.Row, n: String): Long = r.getAs[Long](n)
    assert(card(repCard, "docs") == reps * card(baseCard, "docs"))
    assert(card(repCard, "tokens") == reps * card(baseCard, "tokens"))
    assert(card(repCard, "sources") == reps * card(baseCard, "sources"))
    assert(card(repCard, "langs") == card(baseCard, "langs"))
    assert(card(repCard, "distinct_fps") == card(baseCard, "distinct_fps"),
      "replication must add copies, never new fingerprints")
    assert(card(repCard, "exact_dup_ppm") ==
      (card(repCard, "docs") - card(repCard, "distinct_fps")) * 1000000L /
        card(repCard, "docs"))
    assert(card(repCard, "mean_ttr_pm") == card(baseCard, "mean_ttr_pm"),
      "the TTR multiset replicates exactly — the mean cannot move")

    // q150: the policy invariant that must hold at ANY scale — train
    // is never dropped, and the splits still partition the R× corpus
    noop(Dedup.q150DecontaminatedSplits(spark, sfDir)) // warmup
    val (rep150, tDecon) = time(
      Dedup.q150DecontaminatedSplits(spark, stressDir).collect())
    assert(rep150.map(_.getLong(1)).sum == reps * card(baseCard, "docs"),
      "q150 splits must partition the replicated corpus")
    rep150.foreach { r =>
      if (r.getString(0) == "train")
        assert(r.getLong(2) == 0L, "q150 dropped train docs at R×")
      assert(r.getLong(3) + r.getLong(2) == r.getLong(1))
    }

    // ---- round-11 wave (q169/q170/q171+q174 path/q172) at scale

    // q169: every score class's token mass scales exactly ×R, so the
    // keep/drop/boundary classification is near-identical (integer
    // budget floors can wobble the boundary by a doc) — the LAWS that
    // must hold at any scale: the kept mass fits the budget and the
    // prefix is maximal (no dropped doc could still fit)
    noop(queries.Selection.q169TokenBudget(spark, sfDir)) // warmup
    val (rep169, tBudget) = time(
      queries.Selection.q169TokenBudget(spark, stressDir).collect())
    val totTok169 = rep169.map(_.getLong(2)).sum
    val keptTok169 = rep169.map(_.getLong(4)).sum
    val budget169 = totTok169 * queries.Selection.BudgetPct / 100
    assert(keptTok169 <= budget169, "q169 kept mass exceeds the R× budget")
    val maxDoc = queries.Selection.ttrScored(spark, stressDir)
      .agg(max(col("t"))).head().getLong(0)
    assert(budget169 - keptTok169 < maxDoc,
      "q169 prefix not maximal at R× — a doc-sized budget gap remains")

    // q170: per-source budgets are a pure per-source function, and a
    // replica source is its base feed under an order-preserving
    // doc_id shift — every replica census row must be IDENTICAL to
    // its base source's (kept docs/tokens, cut score)
    noop(queries.Selection.q170SourceBudget(spark, sfDir)) // warmup + ref
    val base170 = queries.Selection.q170SourceBudget(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) -1L else r.getLong(5))).toMap
    val (rep170, tSrcBudget) = time(
      queries.Selection.q170SourceBudget(spark, stressDir).collect())
    rep170.foreach { r =>
      val src = r.getString(0)
      val want = base170(src.substring(0, src.lastIndexOf('_')))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5)) == want,
        s"q170 replica source $src census drifted from its base")
    }

    // q171 vs the sketch-only path (q174's snapshot shape): the exact
    // audit's hash-keyed self-join output grows ~R² on a replicated
    // corpus (every base hash is now held by R sources) while the
    // estimator stays O(sources²·k) off O(sources·k) state — the
    // measured version of "the audit is what you DROP at scale".
    // Replica invariant: a same-base source pair holds IDENTICAL
    // content, so est_common == est_union (sketches are content-keyed)
    noop(Dedup.q171SketchOverlap(spark, sfDir)) // warmup
    val (rep171, tOverlapFull) = time(
      Dedup.q171SketchOverlap(spark, stressDir).collect())
    val (_, tOverlapSketch) = time(noop(Dedup.overlapEstimates(
      Dedup.overlapSketchesOf(Dedup.overlapHashesOf(
        Tables.documents(spark, stressDir))))))
    rep171.filter(r => r.getString(0).substring(0, r.getString(0).lastIndexOf('_'))
        == r.getString(1).substring(0, r.getString(1).lastIndexOf('_')))
      .foreach { r =>
        assert(r.getLong(4) == r.getLong(2) && r.getLong(4) == r.getLong(3),
          s"q171 same-base pair must fully overlap exactly: $r")
        assert(r.getLong(6) == r.getLong(7),
          s"q171 same-base pair sketches identical => est_common == est_union: $r")
      }

    // q172: replication adds copies, never content — with R ≥ cap,
    // every fingerprint saturates its cap, so global kept ==
    // cap · distinct_fps EXACTLY, independent of R
    assert(reps >= Dedup.DupCap, "wave assumes R >= cap")
    noop(Dedup.q172CappedDedup(spark, sfDir)) // warmup
    val (rep172, tCap) = time(Dedup.q172CappedDedup(spark, stressDir).collect())
    assert(rep172.map(_.getLong(3)).sum ==
      Dedup.DupCap.toLong * card(baseCard, "distinct_fps"),
      "q172 at R≥cap must keep exactly cap copies of every distinct content")

    // ---- round-12 governance wave (q200/q202) at scale

    // q200: the commutative-monoid law at ANY fan-out — the corpus
    // split into R disjoint shards, each shard's roots computed
    // INDEPENDENTLY (the "every executor/replica computes its own
    // partial" shape), then folded through the snapshot merge
    // arithmetic: the fold must be BIT-IDENTICAL to the one-shot
    // corpus scan. This is the property that lets a 1000-executor
    // lake (or R mirrored replicas) agree on the commitment with no
    // ordering contract. Wall law on the R× corpus: one scan, linear.
    noop(queries.PipelineQ.q200IntegrityRoots(spark, sfDir)) // warmup + ref
    def rootsMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val baseRoots = rootsMap(
      queries.PipelineQ.q200IntegrityRoots(spark, sfDir).collect())
    val docsBase = Tables.documents(spark, sfDir)
    val shardPartials = (0 until reps).map(k =>
        queries.PipelineQ.integrityRoots(
          docsBase.filter(col("doc_id") % reps === k)))
      .reduce(_.unionAll(_))
    // the SAME merge the q203 snapshot applies to landed batch
    // partials — one shared fold algebra, no drift surface
    val mergedRoots = rootsMap(
      queries.PipelineQ.mergeRootPartials(shardPartials).collect())
    assert(mergedRoots == baseRoots,
      s"q200 monoid law broken at fan-out $reps: shard-fold != corpus scan")
    val (_, tRoots) = time(
      noop(queries.PipelineQ.q200IntegrityRoots(spark, stressDir)))

    // q202: the ingest expectations gate on an R×-replicated event
    // feed with SUBJECTS PRESERVED (same user ids, same types — the
    // "traffic grows, population doesn't" regime): every check's
    // rows_checked and violations scale EXACTLY ×R while
    // distinct_keys is INVARIANT. The wrapper runs its real
    // micro-batched ingest (stream-static FK probe included) on the
    // inflated feed — per-batch state stays O(users + types) however
    // large the traffic, which is the monitor's scale claim.
    val expDir =
      graft.streaming.Streams.scratchDir(s"graft_exp_stress_$reps")
    Tables.events(spark, sfDir).crossJoin(spark.range(reps).toDF("rep"))
      .select((col("event_id") + col("rep") * eventStride).as("event_id"),
        col("ts"), col("user_id"), col("event_type"), col("value"),
        col("props"))
      .write.mode("overwrite").parquet(s"$expDir/events.parquet")
    spark.read.parquet(s"$sfDir/customer.parquet")
      .write.mode("overwrite").parquet(s"$expDir/customer.parquet")
    noop(queries.StreamingQ.q202IncrementalExpectations(spark, sfDir))
    val base202 = queries.StreamingQ.q202IncrementalExpectations(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (rep202, tExp) = time(
      queries.StreamingQ.q202IncrementalExpectations(spark, expDir).collect())
    val got202 = rep202.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got202 == base202.map { case (k, (n, v, d)) =>
      k -> (n * reps, v * reps, d) },
      s"q202 scaling law broken: cloned traffic must scale rows and " +
        s"violations ×R with distinct keys invariant (got $got202)")

    // q206/q207 INGEST law — the first R-law on a STREAMING wrapper's
    // index growth (every law above replays batch rows; this one runs
    // the real micro-batched lshDedupStep ingest shared by q107, q206,
    // q207's card and the q159 pipeline): replicas carry IDENTICAL
    // text, so the landed candidate-pair log must scale like the LSH
    // candidate STRUCTURE — R² cross-pairs per base candidate pair
    // plus C(R,2) same-doc pairs per signed doc, asserted EXACTLY —
    // and the near-dup cluster census must fold every replica family
    // into one cluster: base clusters keep their cluster_id (rep 0
    // keeps original ids, the component min) with membership ×R, and
    // every signed-but-unclustered doc becomes a fresh R-clique. Wall
    // (recorded below) tracks the pair log — O(candidates), the
    // band-bucket structure — never corpus².
    val ingestDir = graft.streaming.Streams.scratchDir("graft_ingest_stress")
    val baseDocs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val basePairs = Dedup.lshCandidates(baseDocs).count()
    val signedArr = Dedup.bandedSignatures(baseDocs)
      .select(col("doc_id")).distinct().collect().map(_.getLong(0))
    val ss206 = spark.newSession()
    ss206.conf.set("spark.sql.shuffle.partitions", "8")
    graft.streaming.Streams.orderedChunkFeed(
      Tables.documents(spark, stressDir).select(col("doc_id"), col("text")),
      s"$ingestDir/feed", 4, col("doc_id"))
    val stream206 = graft.streaming.Streams.fileFeed(ss206,
      "doc_id bigint, text string", s"$ingestDir/feed")
    val (_, tIngest) = time {
      graft.streaming.Streams.runToCompletion(
        graft.streaming.Streams.incrementalLshDedup(stream206,
          s"$ingestDir/index", s"$ingestDir/pairs", s"$ingestDir/ckpt"))
    }
    val pairLog = spark.read.parquet(s"$ingestDir/pairs")
      .select(col("doc_a"), col("doc_b")).distinct().persist()
    val gotPairs = pairLog.count()
    val wantPairs = reps.toLong * reps * basePairs +
      reps.toLong * (reps - 1) / 2 * signedArr.length
    assert(gotPairs == wantPairs,
      s"ingest pair-log law broken at R=$reps: got $gotPairs, want " +
        s"R²·$basePairs + C(R,2)·${signedArr.length} = $wantPairs")
    val baseLabels = Dedup.clustersFromEdgesCounted(
      Dedup.verifiedEdges(baseDocs))._1.collect()
    val clusteredDocs = baseLabels.map(_.getAs[Long]("doc_id")).toSet
    val expectedClusters =
      baseLabels.groupBy(_.getAs[Long]("cluster_id"))
        .map { case (c, rs) => c -> rs.length.toLong * reps } ++
        signedArr.filterNot(clusteredDocs).map(_ -> reps.toLong).toMap
    val (gotClusters, tCluster) = time(
      Dedup.clustersFromEdgesCounted(Dedup.verifiedEdgesFromLog(pairLog,
          Tables.documents(spark, stressDir)))._1
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(gotClusters == expectedClusters,
      s"ingest cluster law broken at R=$reps: ${gotClusters.size} clusters" +
        s" vs expected ${expectedClusters.size}")
    pairLog.unpersist()

    // VACUUM R-law (round-14): erase a FIXED base-subject set (every
    // rep-0 doc_id ≡ TombResidue mod TombMod — the same absolute
    // erasure requests at every R) from the R×-inflated landed index +
    // pair log. The claim under measurement: rewrite cost tracks the
    // TOMBSTONES' partition fan-out, never the index size — partitions
    // rewritten must equal exactly the partitions holding a subject
    // reference (computed independently by a direct scan), every other
    // partition must keep its files and mtimes, and the surviving pair
    // census must equal the pre-vacuum R-law mass minus the exact hit
    // arithmetic (P1·R + P2·(2R-1) cross hits + T·(R-1) same-doc hits).
    val tombIds = signedArr.filter(d =>
      d % queries.StreamingQ.TombMod == queries.StreamingQ.TombResidue).toSeq
    val tombDf = { import spark.implicits._; tombIds.toDF("doc_id") }
    def leafState(root: String): Map[String, Set[(String, Long)]] = {
      def walk(f: java.io.File, rel: String): Seq[(String, Set[(String, Long)])] = {
        val kids = Option(f.listFiles()).getOrElse(Array.empty)
          .filterNot(k => k.getName.startsWith("_") || k.getName.startsWith("."))
        val files = kids.filter(_.isFile).map(k => k.getName -> k.lastModified()).toSet
        val subs = kids.filter(_.isDirectory)
          .flatMap(d => walk(d, s"$rel/${d.getName}")).toSeq
        (if (files.nonEmpty) Seq(rel -> files) else Nil) ++ subs
      }
      walk(new java.io.File(root), "").toMap
    }
    val idxPre = spark.read.parquet(s"$ingestDir/index")
    val pairsPre = spark.read.parquet(s"$ingestDir/pairs")
    val expIdxParts = idxPre.filter(col("doc_id").isin(tombIds: _*))
      .select(col("band"), col("batch_id")).distinct().count()
    val expPairParts = pairsPre
      .filter(col("doc_a").isin(tombIds: _*) || col("doc_b").isin(tombIds: _*))
      .select(col("batch_id")).distinct().count()
    val idxBefore = leafState(s"$ingestDir/index")
    val pairsBefore = leafState(s"$ingestDir/pairs")
    val (_, tVacuum) = time {
      graft.streaming.Streams.vacuumTombstoned(spark, s"$ingestDir/index",
        tombDf, Seq("doc_id"), Seq("band", "batch_id"))
      graft.streaming.Streams.vacuumTombstoned(spark, s"$ingestDir/pairs",
        tombDf, Seq("doc_a", "doc_b"), Seq("batch_id"))
    }
    assert(graft.streaming.Streams.tombstoneResiduals(spark,
        s"$ingestDir/index", tombDf, Seq("doc_id")) +
      graft.streaming.Streams.tombstoneResiduals(spark,
        s"$ingestDir/pairs", tombDf, Seq("doc_a", "doc_b")) == 0L,
      s"vacuum left residuals at R=$reps")
    def rewritten(before: Map[String, Set[(String, Long)]],
                  after: Map[String, Set[(String, Long)]]): Int =
      before.count { case (d, fs) => !after.get(d).contains(fs) }
    val idxAfter = leafState(s"$ingestDir/index")
    val pairsAfter = leafState(s"$ingestDir/pairs")
    val gotIdxParts = rewritten(idxBefore, idxAfter)
    val gotPairParts = rewritten(pairsBefore, pairsAfter)
    assert(gotIdxParts.toLong == expIdxParts,
      s"index vacuum rewrote $gotIdxParts partitions; subjects touch " +
        s"exactly $expIdxParts — rewrite must track tombstone fan-out")
    assert(gotPairParts.toLong == expPairParts,
      s"pair-log vacuum rewrote $gotPairParts partitions, expected $expPairParts")
    // exact surviving-census law: pre-vacuum R-law mass minus the hits
    val tombSet = tombIds.toSet
    val basePairsArr = Dedup.lshCandidates(baseDocs)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val p2 = basePairsArr.count { case (a, b) => tombSet(a) && tombSet(b) }
    val p1 = basePairsArr.count { case (a, b) => tombSet(a) ^ tombSet(b) }
    val wantAfterVacuum = wantPairs -
      p1.toLong * reps - p2.toLong * (2L * reps - 1) -
      tombSet.size.toLong * (reps - 1)
    val gotAfterVacuum = spark.read.parquet(s"$ingestDir/pairs")
      .select(col("doc_a"), col("doc_b")).distinct().count()
    assert(gotAfterVacuum == wantAfterVacuum,
      s"vacuumed pair census broken at R=$reps: got $gotAfterVacuum, " +
        s"want $wantPairs - ($p1)R - ($p2)(2R-1) - (${tombSet.size})(R-1) " +
        s"= $wantAfterVacuum")

    println(f"""{"metric":"curation_stress","reps":$reps,"q200_sec":$tRoots%.2f,"q202_sec":$tExp%.2f,"q206_ingest_sec":$tIngest%.2f,"q206_pairs":$gotPairs,"q206_cluster_sec":$tCluster%.2f,"q206_clusters":${gotClusters.size},"vacuum_sec":$tVacuum%.2f,"vacuum_idx_parts_rewritten":$gotIdxParts,"vacuum_idx_parts_total":${idxBefore.size},"vacuum_pair_parts_rewritten":$gotPairParts,"vacuum_pair_parts_total":${pairsBefore.size},"vacuum_surviving_pairs":$gotAfterVacuum,"q169_sec":$tBudget%.2f,"q170_sec":$tSrcBudget%.2f,"q171_sec":$tOverlapFull%.2f,"q171_sketch_sec":$tOverlapSketch%.2f,"q172_sec":$tCap%.2f,"q142_sec":$tPack%.2f,"q149_sec":$tCard%.2f,"q150_sec":$tDecon%.2f,"q134_sec":$tSeg%.2f,"q137_sec":$tPmi%.2f,"q139_sec":$tTrans%.2f,"q194_sec":$tScd%.2f,"q197_sec":$tDiff%.2f,"q193_sec":$tPurge%.2f,"q121_sec":$tChunk%.2f,"q122_sec":$tLocf%.2f,"q126_sec":$tMask%.2f,"q127_sec":$tCur%.2f,"q108_sec":$tLex%.2f,"q109_sec":$tGaps%.2f,"q111_sec":$tMad%.2f,"q112_sec":$tGrid%.2f,"q114_sec":$tTri%.2f,"q114_cc_ppm":${rep114.getLong(4)},"q74_sec":$tSpan%.2f,"q74_rows":$spanRows,"q81_sec":$tOverlap%.2f,"q81_full_matches":$q81Full,"q79_sec":$tTrain%.2f,"q80_sec":$tApply%.2f,"q95_sec":$tBigram%.2f,"q98_sec":$tMix%.2f,"q98_surviving_tokens":$survTok,"q104_sec":$tSkew%.2f,"q99_sec":$tHeldout%.2f,"q101_sec":$tReid%.2f,"q102_sec":$tBoot%.2f,"q103_sec":$tBootFused%.2f,"bigram_types_base":$baseTypes,"bigram_types_train_r":$trainTypesR,"q95_skewcorpus_sec":$tFlatSkew%.2f,"q104_skewcorpus_sec":$tSplitSkew%.2f,"q99_skewcorpus_sec":$tFlatHeld%.2f,"q153_skewcorpus_sec":$tSplitHeld%.2f,"sf":"$sfDir"}""")
    spark.stop()
  }
}
