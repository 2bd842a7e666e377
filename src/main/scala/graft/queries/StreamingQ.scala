package graft.queries

import graft.Tables
import graft.streaming.{Manifests, StatefulTransitions, Streams}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** Batch-snapshot wrappers that put the STREAMING state path itself on
  * the oracle board (round-7): each registered query here materializes
  * the corpus as a handful of files, streams them through the real
  * incremental twin (file source, `maxFilesPerTrigger=1`, AvailableNow
  * — several genuine micro-batches with checkpointing, the exact
  * ingest wiring), then reads the landed partitioned state back and
  * returns the snapshot frame. The DuckDB oracle is the BATCH twin's
  * SQL over the same corpus — so a correctness row here means the
  * foreachBatch + partitioned-index + merge machinery reproduced the
  * batch answer, not merely that a batch query did.
  *
  * The incremental twins were already differential-tested against
  * their batch twins (StreamsSpec); these rows make that equivalence
  * visible to the driver's CORRECTNESS gate, which only sees
  * registered queries.
  *
  * Scale note: the wrapper's chunked write is harness scaffolding —
  * a real deployment's stream IS the source; the snapshot math it
  * lands on (SUM-mergeable partials, partition-pruned reads) is the
  * same code path either way.
  */
object StreamingQ {

  /** Dev-only (`-Dgraft.phaseLog=1`): per-micro-batch progress dump of
    * a finished stream — durationMs split (addBatch / walCommit /
    * commitOffsets / queryPlanning) and the state operators' commit
    * times, so a stream run's cost attributes to join work vs state
    * machinery vs harness. Zero-cost off. */
  private def qprogress(label: String,
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    if (Streams.PhaseLog) q.recentProgress.foreach { p =>
      val st = p.stateOperators.map(o =>
        s"${o.operatorName}{rows=${o.numRowsTotal},upd=${o.allUpdatesTimeMs}" +
          s"ms,rm=${o.allRemovalsTimeMs}ms,commit=${o.commitTimeMs}ms}")
        .mkString(" ")
      println(s"[qprog] $label batch=${p.batchId} dur=${p.durationMs} $st")
    }
  /** A CHILD session pinned to 8 shuffle partitions for the streaming
    * runs (SQL configs are session-scoped; `newSession` shares the
    * SparkContext and catalog but gets its own conf). The monitors'
    * per-batch jobs aggregate a quarter-corpus each — 8 shuffle
    * partitions is the right grain for their exchanges, landed partial
    * files, and state stores (the q113/q175 sizing notes). A child
    * session instead of set-and-restore on the shared session: any
    * query planned CONCURRENTLY on the caller's session during the
    * streaming run would silently inherit the mutated value, and the
    * mutate-restore pattern is not re-entrant across wrappers. */
  private def streamSession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    ss
  }

  /** [[streamSession]] on the RocksDB provider — transformWithState
    * needs multi-column-family state — WITH changelog checkpointing,
    * the round-13 A/B's measured prescription (cuts RocksDB commit
    * cost ~15% and collapses run variance; PLANS.md StreamBench ×R
    * table). One helper so every TWS row runs the same store config. */
  private def rocksSession(s: SparkSession): SparkSession = {
    val ss = streamSession(s)
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    ss.conf.set("spark.sql.streaming.stateStore.rocksdb" +
      ".changelogCheckpointing.enabled", "true")
    ss
  }

  /** Stream a base frame in ~4 micro-batches (file source, one file
    * per trigger) through the stream `run` builds over it, run that
    * stream to completion, then hand the work dir to the caller's
    * snapshot — ONE chunking/readStream/run scaffold for every
    * wrapper, whatever the table. */
  private def streamedFrame(s: SparkSession, base: DataFrame,
                            schemaDdl: String)
                           (run: (DataFrame, String) => DataStreamWriter[Row])
      : String = {
    val work = Streams.scratchDir("graft_incq")
    base.repartition(4).write.parquet(s"$work/chunks")
    Streams.runToCompletion(run(
      Streams.fileFeed(streamSession(s), schemaDdl, s"$work/chunks"), work))
    work
  }

  /** [[streamedFrame]] over `cols` of the documents table. */
  private def streamed(s: SparkSession, dir: String, cols: Seq[String],
                       schemaDdl: String)
                      (run: (DataFrame, String) => DataStreamWriter[Row])
      : String =
    streamedFrame(s, Tables.documents(s, dir).select(cols.map(col): _*),
      schemaDdl)(run)

  /** q105: q97's mixture weights computed from the incremental
    * monitor's landed per-batch token partials (sum-merge family) —
    * oracle: q97Sql. */
  def q105IncrementalMixture(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("source", "text"),
      "source string, text string") { (docs, work) =>
      Streams.incrementalSourceTokens(docs, s"$work/tokens", s"$work/ckpt")
    }
    Streams.mixtureWeightsSnapshot(s, s"$work/tokens")
  }

  /** q106: the OOV drift monitor's summed partials against the frozen
    * train vocabulary — the oracle recomputes the census from scratch
    * in DuckDB (q106Sql below). */
  def q106IncrementalOov(s: SparkSession, dir: String): DataFrame = {
    val vocab = Text.trainVocab(s, dir)
    val work = streamed(s, dir, Seq("source", "text"),
      "source string, text string") { (docs, work) =>
      Streams.incrementalOovStats(docs, vocab, s"$work/stats", s"$work/ckpt")
    }
    Streams.oovRateSnapshot(s, s"$work/stats")
  }

  /** The OOV census, spelled for DuckDB: per-source token count and
    * count of tokens absent from the train-split vocabulary, rate in
    * integer ppm — the same math [[Text.oovStatsFrozen]] lands
    * incrementally. */
  val q106Sql: String =
    s"""WITH v AS (
       |  SELECT DISTINCT unnest(str_split(text, ' ')) AS t
       |  FROM documents WHERE (${Text.splitLabelSql}) = 'train'),
       |tok AS (
       |  SELECT source, unnest(str_split(text, ' ')) AS t FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS tokens,
       |       CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov,
       |       CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         * 1000000 // CAST(count(*) AS BIGINT) AS oov_ppm
       |FROM tok LEFT JOIN v USING (t)
       |GROUP BY 1""".stripMargin

  /** q107: LSH near-dup pairs from the incremental ingest — the
    * persistent band-partitioned signature index and candidate log
    * accumulate across micro-batches (within-batch + vs-history
    * pairing), then the batch Jaccard verifier scores the logged
    * candidates against the corpus. Oracle: q44Sql — the whole
    * stateful cross-batch pairing path must reproduce the batch LSH
    * ladder exactly. */
  def q107IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("doc_id", "text"),
      "doc_id bigint, text string") { (docs, work) =>
      Streams.incrementalLshDedup(docs, s"$work/index", s"$work/pairs",
        s"$work/ckpt")
    }
    Dedup.jaccardVerify(
      s.read.parquet(s"$work/pairs").select(col("doc_a"), col("doc_b")).distinct(),
      Tables.documents(s, dir))
  }

  /** q116: q108's lexical-diversity census computed from the
    * incremental lexicon index's landed per-batch (source, token,
    * freq) partials — the non-trivially-mergeable member of the
    * snapshot family (types/hapax are NOT sum-mergeable at the census
    * level; only the lexicon merge restores them exactly). Oracle:
    * q108Sql. */
  def q116IncrementalLexicon(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("source", "text"),
      "source string, text string") { (docs, work) =>
      Streams.incrementalLexicon(docs, s"$work/lex", s"$work/ckpt")
    }
    Streams.lexicalDiversitySnapshot(s, s"$work/lex")
  }

  /** q113: the flatMapGroupsWithState sessionizer itself on the oracle
    * board — the full events table streamed IN EVENT-TIME ORDER
    * through [[graft.streaming.StatefulSessions.sessionize]] in ~6
    * micro-batches, open sessions flushed by a far-future sentinel
    * user (ONE flush chunk: the sentinel batch computes the far
    * watermark at its end and AvailableNow's trailing no-data batch
    * applies it — the engine's documented job; a second sentinel
    * batch to "apply" the watermark was one redundant state-commit
    * round per run, r16), then the per-user census of CLOSED
    * sessions. Oracle: q17Sql — the batch sessionization. A green row
    * here means the keyed state machine, its µs-exact gap arithmetic
    * and the event-time-timeout close path reproduced the batch
    * window-function answer over every micro-batch boundary.
    *
    * Feed and sink are both DISTRIBUTED (round-9; the verdict's
    * standing `weak` was a corpus-scale `collect()`+MemoryStream here):
    * the events table is range-shuffled into ts-ordered chunk files
    * ([[graft.streaming.Streams.orderedChunkFeed]] — a distributed
    * sort, O(chunks) driver renames), replayed one file per
    * micro-batch, and closed sessions land in a parquet sink the
    * census then aggregates — no corpus-scale data ever touches the
    * driver. Ts-range chunking preserves the no-late-data invariant
    * the old in-order feed had: every event in batch k+1 is ≥ every
    * event in batch k, so the watermark never drops a row. A real
    * deployment's stream is the source directly; the state path under
    * test is hash-partitioned by user_id exactly as on a cluster,
    * O(1) state per in-flight session. */
  def q113StatefulSessions(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StatefulSessions
    import graft.streaming.StatefulSessions.Event
    import org.apache.spark.sql.streaming.OutputMode
    implicit val ee = org.apache.spark.sql.Encoders.product[Event]
    val work = Streams.scratchDir("graft_q113")
    val events = Tables.events(s, dir)
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp_ltz").as("ts"))
    val flushUser = -1L
    Streams.orderedChunkFeed(events, s"$work/feed", 4, col("ts"))
    // sentinel flush: one two-row chunk staged AFTER the corpus
    // (orderedChunkFeed appends with later mtimes) — the 1-row agg is
    // the only driver materialization in this path
    val maxRow = events.agg(max(col("ts"))).head()
    if (maxRow.isNullAt(0))
      // empty corpus (or all-null ts): no sessions exist and the sink
      // would never write — return the empty census the oracle computes
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL(
          "user_id bigint, session_count bigint, max_session_events bigint"))
    val far = new java.sql.Timestamp(
      maxRow.getTimestamp(0).getTime + 48L * 3600 * 1000)
    Streams.orderedChunkFeed(
      s.createDataset(Seq(far, new java.sql.Timestamp(far.getTime + 60000))
        .map(t => Event(flushUser, t)))(ee).toDF(),
      s"$work/feed", 1, col("ts"))
    // the state store inherits shuffle.partitions at FIRST start and
    // pays per-partition provider overhead EVERY micro-batch; at the
    // harness's corpus size 8 state partitions is the right grain (a
    // real deployment sizes this to keys/executor, set once — it is
    // sticky in the checkpoint). Child session: see streamSession.
    val stream = Streams.fileFeed(streamSession(s),
      "user_id bigint, ts timestamp_ltz", s"$work/feed")
    Streams.runToCompletion(
      StatefulSessions.sessionize(stream.as[Event]).writeStream
        .format("parquet").option("path", s"$work/sessions")
        .option("checkpointLocation", s"$work/ckpt")
        .outputMode(OutputMode.Append()))
    s.read.parquet(s"$work/sessions")
      .filter(col("user_id") =!= flushUser)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("session_count"),
        max(col("event_count")).as("max_session_events"))
  }

  /** [[streamedFrame]] over `cols` of the events table. */
  private def streamedEvents(s: SparkSession, dir: String, cols: Seq[String],
                             schemaDdl: String)
                            (run: (DataFrame, String) => DataStreamWriter[Row])
      : String =
    streamedFrame(s, Tables.events(s, dir).select(cols.map(col): _*),
      schemaDdl)(run)

  /** q148: q145's χ² daily-mix census computed from the incremental
    * monitor's landed per-batch contingency partials (sum-merge
    * family, contingency-cell edition) — oracle: q145Sql. A green row
    * means the per-batch cell partials re-summed across micro-batch
    * boundaries reproduce the batch statistic bit-for-bit, DECIMAL
    * arithmetic included. */
  def q148IncrementalChi2(s: SparkSession, dir: String): DataFrame = {
    val work = streamedEvents(s, dir, Seq("ts", "event_type"),
      "ts timestamp_ntz, event_type string") { (events, work) =>
      Streams.incrementalDayTypeCells(events, s"$work/cells", s"$work/ckpt")
    }
    Streams.chi2Snapshot(s, s"$work/cells")
  }

  /** q151: q134's segment-dedup retention census with BOTH sides
    * computed from the incremental first-claim index — the min-merge
    * family's oracle row. A green row means claims merged across
    * micro-batch boundaries pick exactly the global first occurrence
    * per fingerprint (a replayed or late batch can never steal a
    * claim), and the summed doc totals reproduce the batch census
    * bit-for-bit. Oracle: q134Sql. */
  def q151IncrementalSegments(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("source", "doc_id", "text"),
      "source string, doc_id bigint, text string") { (docs, work) =>
      Streams.incrementalSegmentDedup(docs, s"$work/claims", s"$work/docs",
        s"$work/ckpt")
    }
    Streams.segmentDedupSnapshot(s, s"$work/claims", s"$work/docs")
  }

  /** q173: q172's controlled-duplication census with the survivors
    * chosen by the INCREMENTAL capped-claims index — the documents
    * table streamed through ~4 micro-batches, each landing its
    * bottom-cap claims + (source, fp) copy partials; the snapshot
    * re-merges (bottom-cap-of-union law). Oracle: q172Sql — a green
    * row means the cross-batch merge reproduced the batch kernel's
    * survivor set bit-for-bit, kept-zero sources included. */
  def q173IncrementalCap(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("doc_id", "source", "text"),
      "doc_id bigint, source string, text string") { (docs, work) =>
      Streams.incrementalCappedDedup(docs, s"$work/claims", s"$work/copies",
        s"$work/ckpt")
    }
    Streams.cappedDedupSnapshot(s, s"$work/claims", s"$work/copies")
  }

  /** q174: the q171 pairwise source-overlap estimates with the
    * sketches built by the INCREMENTAL k-min monitor — the documents
    * table streamed through ~4 micro-batches, each landing ≤k distinct
    * hashes per source; the snapshot re-merges (k-min-of-union law)
    * and runs the estimator. Oracle: the sketch half of q171Sql — a
    * green row means the merged sketches elected exactly the corpus
    * bottom-k, so every estimate matches the batch run bit-for-bit. */
  def q174IncrementalOverlap(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("source", "text"),
      "source string, text string") { (docs, work) =>
      Streams.incrementalOverlapSketch(docs, s"$work/sketch", s"$work/ckpt")
    }
    Streams.overlapSnapshot(s, s"$work/sketch")
  }

  /** q178: q169's hard-token-budget selection with the scored manifest
    * built by the INCREMENTAL monitor — the documents table streamed
    * through ~4 micro-batches, each landing its per-doc (doc_id,
    * source, t, r) scored rows ([[graft.streaming.Streams
    * .incrementalBudgetSelection]]); the snapshot re-merges (distinct
    * — rows are fully doc-keyed) and runs the exact q169 tail (class
    * frame, boundary resolution, census). Oracle: q169Sql — a green
    * row means the terminal curation act computed AT INGEST reproduced
    * the batch selection bit-for-bit, cut score included. This closes
    * the last batch-curation operator without an ingest-time twin. */
  def q178IncrementalBudget(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("doc_id", "source", "text"),
      "doc_id bigint, source string, text string") { (docs, work) =>
      Streams.incrementalBudgetSelection(docs, s"$work/scored", s"$work/ckpt")
    }
    Streams.budgetSnapshot(s, s"$work/scored")
  }

  /** q182: q166's Pareto frontier with the skyline built by the
    * INCREMENTAL monitor — per micro-batch only the batch's OWN
    * skyline rows land (the exact batch dominance kernel); the
    * snapshot re-skylines the union (frontier-of-union ⊆
    * union-of-frontiers, dominance transitivity). Oracle: q166Sql — a
    * green row means cross-batch dominance (a batch-3 doc dominating a
    * batch-0 survivor, equal-(t,r) twins split across batches) resolved
    * exactly as the batch skyline does. With q178/q183 this closes the
    * selection family: every member has an ingest-time edition. */
  def q182IncrementalFrontier(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("doc_id", "source", "text"),
      "doc_id bigint, source string, text string") { (docs, work) =>
      Streams.incrementalFrontier(docs, s"$work/frontier", s"$work/ckpt")
    }
    Streams.frontierSnapshot(s, s"$work/frontier")
  }

  /** q183: q170's per-source budget census from the SAME landed scored
    * manifest as q178 — the fairness policy as a second snapshot over
    * one monitor's state (policy is a read-time decision, not an
    * ingest-time one). Oracle: q170Sql. */
  def q183IncrementalSourceBudget(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("doc_id", "source", "text"),
      "doc_id bigint, source string, text string") { (docs, work) =>
      Streams.incrementalBudgetSelection(docs, s"$work/scored", s"$work/ckpt")
    }
    Streams.sourceBudgetSnapshot(s, s"$work/scored")
  }

  /** q185: q127's curriculum-decile census from the SAME landed scored
    * manifest as q178/q183 — the third read-time policy over one
    * monitor (budget, fairness, curriculum), and the oracle row for
    * q181's sort-free histogram branch (the at-ingest tail here;
    * registered q181 takes the exact-ntile branch at driver scale).
    * Oracle: q127Sql. */
  def q185IncrementalCurriculum(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("doc_id", "source", "text"),
      "doc_id bigint, source string, text string") { (docs, work) =>
      Streams.incrementalBudgetSelection(docs, s"$work/scored", s"$work/ckpt")
    }
    Streams.curriculumSnapshot(s, s"$work/scored")
  }

  /** q186: q88's winsorize thresholds + census computed from the
    * incremental length-histogram monitor's landed per-source
    * (n_chars, count) partials (SUM-merge family) — clip bounds that
    * track the corpus as feeds drift, recomputed without rescanning a
    * byte. Oracle: q88Sql. */
  def q186IncrementalWinsorize(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("source", "n_chars"),
      "source string, n_chars bigint") { (docs, work) =>
      Streams.incrementalLengthHistogram(docs, s"$work/hist", s"$work/ckpt")
    }
    Streams.winsorizeSnapshot(s, s"$work/hist")
  }

  /** q187: q90's hourly rate-anomaly verdicts from the incremental
    * hourly-counts monitor's summed partials (SUM-merge family) — the
    * ingest-telemetry monitor's oracle row. Oracle: q90Sql. */
  def q187IncrementalAnomaly(s: SparkSession, dir: String): DataFrame = {
    val work = streamedEvents(s, dir, Seq("ts", "event_type"),
      "ts timestamp_ntz, event_type string") { (events, work) =>
      Streams.incrementalHourlyCounts(events, s"$work/counts", s"$work/ckpt")
    }
    Streams.rateAnomalySnapshot(s, s"$work/counts")
  }

  /** q188: q93's split-leakage census from the incremental guard's
    * landed (fingerprint, split) partials — a leak is visible the
    * moment its second copy ARRIVES, not at the next full audit.
    * Oracle: q93Sql. */
  def q188IncrementalSplitGuard(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("doc_id", "text"),
      "doc_id bigint, text string") { (docs, work) =>
      Streams.incrementalSplitGuard(docs, s"$work/fps", s"$work/ckpt")
    }
    Streams.splitGuardSnapshot(s, s"$work/fps")
  }

  /** q189: q68's CMS heavy-hitter audit with the SKETCH side summed
    * from the incremental monitor's landed per-batch cell partials
    * (the original SUM-merge member, finally oracle-gated); the top-10
    * true counts are the exact audit, recomputed in batch — the q141
    * discipline, count-min edition. Oracle: q68Sql. */
  def q189IncrementalCms(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("text"), "text string") { (docs, work) =>
      Streams.incrementalCms(docs, s"$work/cells", s"$work/ckpt")
    }
    Stats.cmsHeavyHittersFrom(Stats.corpusTokens(s, dir),
      Streams.cmsSnapshot(s, s"$work/cells"))
  }

  /** q190: q81's pairwise source-overlap census with the signatures
    * MIN-merged from the incremental monitor's landed per-batch
    * per-source MinHash partials (elementwise-min mergeability — the
    * property that makes MinHash the signature a feed monitor can
    * keep). Oracle: q81Sql. */
  def q190IncrementalSignatures(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("source", "text"),
      "source string, text string") { (docs, work) =>
      Streams.incrementalSourceSignatures(docs, s"$work/sigs", s"$work/ckpt")
    }
    graft.queries.Dedup.signatureMatchCensus(
      Streams.sourceSignatureSnapshot(s, s"$work/sigs"))
  }

  /** q191: q91's ingest-diversity novelty curve from the incremental
    * DATA-axis monitor — the batch axis is doc_id-derived, so the
    * monitor's (batch, gram, occ) partials sum to the exact q91 frame
    * from any micro-batch slicing; this closes the last incremental
    * monitor without an oracle row. Oracle: q91Sql. */
  def q191IncrementalNovelty(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("doc_id", "text"),
      "doc_id bigint, text string") { (docs, work) =>
      Streams.incrementalNoveltyCurve(docs, s"$work/grams", s"$work/ckpt")
    }
    Streams.noveltyCurveExactSnapshot(s, s"$work/grams")
  }

  /** q175: stream-STREAM interval join — the funnel's view→click
    * step as Spark's symmetric hash join over two watermarked legs of
    * the live event stream (every other streaming rung here is
    * stream-batch or keyed-state; this is the missing structural
    * member). Both legs filter the same ordered file feed; the join
    * is user_id-equi + a 24 h time bound, so
    * StreamingSymmetricHashJoinExec hash-partitions BOTH sides by
    * user_id and buffers only the watermark-bounded window: view
    * state lives 24 h + delay, click state just the delay — O(events
    * in window) per key, evicted as the watermark passes, which is
    * the whole 100 TB story (an unwatermarked inner S-S join is
    * correct but its state never shrinks).
    *
    * Correctness under the watermark: the feed is range-sorted ts
    * chunks ([[graft.streaming.Streams.orderedChunkFeed]]), so each
    * micro-batch's rows are ≥ every earlier batch's — arriving rows
    * never trail the watermark and the 1 h delay is pure slack; on an
    * unordered production stream the delay must exceed the real
    * disorder bound or late pairs drop (stated, not hidden). Oracle:
    * the same pair census in batch SQL — a green row means the
    * cross-batch buffered join found EXACTLY the batch join's pairs.
    */
  def q175StreamJoinPairs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val work = Streams.scratchDir("graft_q175")
    // stage only the two subscribed types (a production stream IS the
    // filtered topic); the legs' filters below stay as the contract
    Streams.phase("q175 feed") {
      Streams.orderedChunkFeed(
        Tables.events(s, dir).select(col("user_id"),
          col("ts").cast("timestamp_ltz").as("ts"),
          col("event_type"), col("event_id"))
          .filter(col("event_type").isin("view", "click")),
        s"$work/feed", 4, col("ts"), col("event_id"))
    }
    // the join's state store inherits shuffle.partitions at first
    // start (the q147 sizing note, S-S edition): 8 instead of 32
    // quarters the per-micro-batch store commit overhead — the run's
    // dominant cost at this corpus size. Child session: streamSession.
    val ss = streamSession(s)
    // an INNER S-S join emits every pair during the data batches; the
    // trailing no-data micro-batch exists only to advance the watermark
    // and evict the terminal state tail — a full extra commit round
    // (measured ~0.67 s of a 4.3 s run: one trigger × 8 partitions × 4
    // join stores) for rows the output never sees. Skip it HERE ONLY:
    // the outer members q176/q179 NEED no-data batches (a null row may
    // only emit once the watermark proves absence), and eviction-as-
    // the-watermark-passes still runs in every data batch (state
    // metrics: rm>0 from batch 1 on).
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val feed = Streams.fileFeed(ss, StatefulTransitions.FeedDdl, s"$work/feed")
    val v = feed.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("v_ts"), col("event_id").as("v_id"))
      .withWatermark("v_ts", "1 hour")
    val c = feed.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", "1 hour")
    Streams.phase("q175 stream run") {
      qprogress("q175", Streams.runToCompletion(v.join(c, expr(
          """user_id = c_user AND c_ts > v_ts
            |AND c_ts <= v_ts + INTERVAL 24 HOURS""".stripMargin))
        .select(col("user_id"), col("v_id"), col("c_id"),
          (unix_micros(col("c_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
        .writeStream.format("parquet").option("path", s"$work/pairs")
        .option("checkpointLocation", s"$work/ckpt")
        .outputMode(OutputMode.Append())))
    }
    s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id bigint, v_id bigint, c_id bigint, gap_us bigint"))
      .parquet(s"$work/pairs")
      .agg(count(lit(1)).as("pairs"),
        countDistinct(col("user_id")).as("users"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"),
        sum(col("gap_us")).as("sum_gap_us"))
  }

  /** q176: q175's LEFT OUTER edition — funnel drop-off at ingest
    * ("views that never clicked within 24 h"). Outer S-S join is the
    * semantically hard member: a view's null row may only be emitted
    * once the WATERMARK proves no click can still arrive (before
    * that, absence is indistinguishable from lateness), so a corpus
    * that simply ends strands its last 24 h + delay of views in
    * state. The fix is the production pattern: HEARTBEAT flush events
    * — two sentinels staged 26 h past the corpus max on impossible
    * users (one per leg: each must pass its leg's type filter or that
    * leg's watermark never advances), excluded from the census by
    * user_id < 0. AvailableNow's no-data final batches then evict and
    * emit every real view. Oracle: the batch anti-join census.
    */
  def q176StreamJoinDropoff(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val work = Streams.scratchDir("graft_q176")
    val ev = Tables.events(s, dir).select(col("user_id"),
      col("ts").cast("timestamp_ltz").as("ts"),
      col("event_type"), col("event_id"))
      .filter(col("event_type").isin("view", "click")) // q175's topic note
    Streams.phase("q176 feed") {
      Streams.orderedChunkFeed(ev, s"$work/feed", 4,
        col("ts"), col("event_id"))
      val sentinels = ev.agg(max(col("ts")).as("mx"))
        .select(explode(array(
          struct(lit(-1L).as("user_id"),
            expr("mx + INTERVAL 26 HOURS").as("ts"),
            lit("view").as("event_type"), lit(-1L).as("event_id")),
          struct(lit(-2L).as("user_id"),
            expr("mx + INTERVAL 26 HOURS").as("ts"),
            lit("click").as("event_type"), lit(-2L).as("event_id")))).as("r"))
        .select(col("r.*"))
      Streams.orderedChunkFeed(sentinels, s"$work/feed", 1,
        col("ts"), col("event_id"))
    }
    // 8 state-store partitions, as in q175 (the outer join also pays
    // the eviction/no-data batches — store count is the lever)
    val feed = Streams.fileFeed(streamSession(s), StatefulTransitions.FeedDdl,
      s"$work/feed")
    val v = feed.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("v_ts"), col("event_id").as("v_id"))
      .withWatermark("v_ts", "1 hour")
    val c = feed.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", "1 hour")
    Streams.phase("q176 stream run") {
      qprogress("q176", Streams.runToCompletion(v.join(c, expr(
          """user_id = c_user AND c_ts > v_ts
            |AND c_ts <= v_ts + INTERVAL 24 HOURS""".stripMargin), "leftOuter")
        .select(col("user_id"), col("v_id"), col("c_id"))
        .writeStream.format("parquet").option("path", s"$work/rows")
        .option("checkpointLocation", s"$work/ckpt")
        .outputMode(OutputMode.Append())))
    }
    s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id bigint, v_id bigint, c_id bigint"))
      .parquet(s"$work/rows")
      .filter(col("user_id") >= 0L) // sentinels out
      .agg(countDistinct(col("v_id")).as("views"),
        countDistinct(when(col("c_id").isNotNull, col("v_id")))
          .as("converted"))
      .withColumn("dropped", col("views") - col("converted"))
      .withColumn("drop_ppm", expr("dropped * 1000000 div views"))
  }

  /** q177: at-least-once → EXACTLY-ONCE at ingest via
    * `dropDuplicatesWithinWatermark` — the feed delivers every event
    * TWICE (the duplicate delivery a retrying producer or replayed
    * upstream partition produces; staged as one ordered feed of the
    * doubled frame, so each duplicate pair lands within the same
    * ts-range chunk), and the watermarked dedup must collapse the
    * stream back to the corpus. The API's contract is exactly its
    * name: state is kept per key only WITHIN the watermark delay, so
    * the delay must exceed the worst real re-delivery lag — here
    * duplicates arrive adjacent (1 h delay is pure slack); a replayed
    * partition hours behind needs a delay that long, priced as
    * O(events within the lag window) of state, key-parallel. Oracle:
    * the per-type census of the ORIGINAL corpus — green means the
    * doubled delivery was invisible downstream.
    */
  def q177StreamDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val work = Streams.scratchDir("graft_q177")
    val ev = Tables.events(s, dir).select(col("user_id"),
      col("ts").cast("timestamp_ltz").as("ts"),
      col("event_type"), col("event_id"))
    Streams.orderedChunkFeed(ev.union(ev), s"$work/feed", 4,
      col("ts"), col("event_id"))
    val ss = streamSession(s) // the q175 store sizing
    // dropDuplicatesWithinWatermark emits each first occurrence during
    // the data batches; the trailing no-data micro-batch would only
    // advance the watermark to evict state the output never sees — a
    // full extra store-commit round (~0.5 s of a ~3.5 s run). Skipped
    // for the reason q175 skips it; eviction still runs in every data
    // batch as the watermark passes.
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    Streams.runToCompletion(
      Streams.fileFeed(ss, StatefulTransitions.FeedDdl, s"$work/feed")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .writeStream.format("parquet").option("path", s"$work/rows")
        .option("checkpointLocation", s"$work/ckpt")
        .outputMode(OutputMode.Append()))
    s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id bigint, event_type string, event_id bigint")) // ts projected out
      .parquet(s"$work/rows")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("events"),
        countDistinct(col("user_id")).as("users"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
  }

  /** q179: the FULL-OUTER stream-stream join — q175/q176 complete the
    * inner and left-outer members; full outer adds the column neither
    * can see: clicks with NO prior view in the 24 h window (a click
    * that tracking never attributed — the orphan census is a
    * tracking-bug detector, the mirror image of q176's funnel
    * drop-off). Both null legs are watermark-proven: a view's null
    * row may only emit once no click can still arrive, a click's null
    * row once no view can still arrive — so BOTH sides need their
    * heartbeat sentinel (q176's staging, both legs' filters), and
    * Spark requires the time bound + watermarks on both sides for the
    * state to stay bounded. Census excludes sentinels by user < 0 on
    * whichever leg carried them. Oracle: the batch full-outer census
    * (matched views, dropped views, orphan clicks) — a green row means
    * the symmetric-hash state machine emitted EXACTLY the batch join's
    * null rows, neither early (absence claimed while lateness was
    * still possible) nor never (stranded state). */
  def q179StreamJoinFull(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val work = Streams.scratchDir("graft_q179")
    val ev = Tables.events(s, dir).select(col("user_id"),
      col("ts").cast("timestamp_ltz").as("ts"),
      col("event_type"), col("event_id"))
      .filter(col("event_type").isin("view", "click")) // q175's topic note
    Streams.phase("q179 feed") {
      Streams.orderedChunkFeed(ev, s"$work/feed", 4,
        col("ts"), col("event_id"))
      val sentinels = ev.agg(max(col("ts")).as("mx"))
        .select(explode(array(
          struct(lit(-1L).as("user_id"),
            expr("mx + INTERVAL 26 HOURS").as("ts"),
            lit("view").as("event_type"), lit(-1L).as("event_id")),
          struct(lit(-2L).as("user_id"),
            expr("mx + INTERVAL 26 HOURS").as("ts"),
            lit("click").as("event_type"), lit(-2L).as("event_id")))).as("r"))
        .select(col("r.*"))
      Streams.orderedChunkFeed(sentinels, s"$work/feed", 1,
        col("ts"), col("event_id"))
    }
    val feed = Streams.fileFeed(streamSession(s), // 8 store partitions (q175)
      StatefulTransitions.FeedDdl, s"$work/feed")
    val v = feed.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
      .withWatermark("v_ts", "1 hour")
    val c = feed.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", "1 hour")
    Streams.phase("q179 stream run") {
      Streams.runToCompletion(v.join(c, expr(
          """v_user = c_user AND c_ts > v_ts
            |AND c_ts <= v_ts + INTERVAL 24 HOURS""".stripMargin), "fullOuter")
        .select(col("v_user"), col("c_user"), col("v_id"), col("c_id"))
        .writeStream.format("parquet").option("path", s"$work/rows")
        .option("checkpointLocation", s"$work/ckpt")
        .outputMode(OutputMode.Append()))
    }
    s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
        "v_user bigint, c_user bigint, v_id bigint, c_id bigint"))
      .parquet(s"$work/rows")
      // sentinels out: each sentinel rides exactly one leg, so its
      // row has that leg's user < 0 (and may carry NULL on the other)
      .filter(coalesce(col("v_user"), lit(0L)) >= 0L &&
        coalesce(col("c_user"), lit(0L)) >= 0L)
      .agg(countDistinct(col("v_id")).as("views"),
        countDistinct(when(col("c_id").isNotNull, col("v_id")))
          .as("converted"),
        countDistinct(col("c_id")).as("clicks"),
        countDistinct(when(col("v_id").isNull, col("c_id")))
          .as("orphan_clicks"))
      .withColumn("dropped", col("views") - col("converted"))
  }

  /** q179 oracle — the batch full-outer census: view and click sides
    * counted whole, matched views via the window join, orphan clicks
    * as the anti-side of the reversed join. */
  val q179Sql: String =
    """WITH v AS (SELECT user_id, event_id,
      |             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |           FROM events WHERE event_type = 'view'),
      |c AS (SELECT user_id, event_id,
      |        epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |      FROM events WHERE event_type = 'click'),
      |m AS (SELECT DISTINCT v.event_id FROM v JOIN c
      |      ON v.user_id = c.user_id
      |        AND c.us > v.us AND c.us <= v.us + 86400000000),
      |mc AS (SELECT DISTINCT c.event_id FROM c JOIN v
      |       ON v.user_id = c.user_id
      |         AND c.us > v.us AND c.us <= v.us + 86400000000)
      |SELECT CAST(vn AS BIGINT) AS views, CAST(mn AS BIGINT) AS converted,
      |       CAST(cn AS BIGINT) AS clicks,
      |       CAST(cn - mcn AS BIGINT) AS orphan_clicks,
      |       CAST(vn - mn AS BIGINT) AS dropped
      |FROM (SELECT (SELECT count(*) FROM v) AS vn,
      |             (SELECT count(*) FROM m) AS mn,
      |             (SELECT count(*) FROM c) AS cn,
      |             (SELECT count(*) FROM mc) AS mcn)""".stripMargin

  /** q180: the BUILT-IN `session_window` sessionizer on the oracle
    * board — q113 proves the custom flatMapGroupsWithState state
    * machine against batch q17; this row pins Spark's native
    * session-window aggregation to the SAME answer, so the two
    * sessionizers (built-in and custom) can never drift from each
    * other or from the batch window-function spelling. Gap semantics
    * note: `session_window`'s window is [start, end) with end = last
    * event + gap, so an event arriving at EXACTLY the gap boundary
    * starts a new session — but q17 merges a gap of exactly 1800 s
    * (strict `> 1800000000` µs splits). One extra microsecond of gap
    * duration aligns the two: gap ≤ 1800 s merges, > splits, µs-exact.
    * Flush: the far-future sentinel advances the watermark past every
    * real session's end (q113's two-batch staging — the watermark
    * computed at batch N's end applies in batch N+1), AvailableNow's
    * no-data final batches emit the rest. Oracle: q17Sql. */
  def q180SessionWindow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val work = Streams.scratchDir("graft_q180")
    val events = Tables.events(s, dir)
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp_ltz").as("ts"))
    val flushUser = -1L
    Streams.orderedChunkFeed(events, s"$work/feed", 4, col("ts"))
    val maxRow = events.agg(max(col("ts"))).head()
    if (maxRow.isNullAt(0))
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL(
          "user_id bigint, session_count bigint, max_session_events bigint"))
    val far = new java.sql.Timestamp(
      maxRow.getTimestamp(0).getTime + 48L * 3600 * 1000)
    locally {
      val far2 = new java.sql.Timestamp(far.getTime + 60000)
      Streams.orderedChunkFeed(
        s.createDataFrame(java.util.List.of(
          org.apache.spark.sql.Row(flushUser, far),
          org.apache.spark.sql.Row(flushUser, far2)),
          StructType.fromDDL("user_id bigint, ts timestamp_ltz")),
        s"$work/feed", 1, col("ts"))
    }
    val stream = Streams.fileFeed(streamSession(s), // 8 store partitions (q113)
      "user_id bigint, ts timestamp_ltz", s"$work/feed")
    Streams.runToCompletion(stream.withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes 1 microsecond").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("events_in_session"))
      .select(col("user_id"), col("events_in_session"))
      .writeStream.format("parquet").option("path", s"$work/sessions")
      .option("checkpointLocation", s"$work/ckpt")
      .outputMode(OutputMode.Append()))
    s.read.schema(StructType.fromDDL(
        "user_id bigint, events_in_session bigint"))
      .parquet(s"$work/sessions")
      .filter(col("user_id") =!= flushUser)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("session_count"),
        max(col("events_in_session")).as("max_session_events"))
  }

  /** q184: the watermarked TUMBLING-window aggregation on the oracle
    * board — §2.5's windowed-agg rung has been StreamsSpec-tested
    * since round 2 but never oracle-gated (q16 is its batch twin);
    * this row pins the streaming window state machine (append mode:
    * a window emits only once the watermark passes its end) to a
    * batch census. Value mass rides INTEGER CENTS (floor(value·100)
    * per row, then sum): a double sum is not order-free across
    * micro-batch boundaries, so the hash-exact contract demands the
    * quantize-before-sum discipline (the q64 millinat convention,
    * money edition). Sentinel flush on an impossible event_type
    * advances the watermark past every real window (q113's two-batch
    * staging); the census filters it out. Oracle: the same census in
    * batch SQL. */
  def q184StreamWindowCounts(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val work = Streams.scratchDir("graft_q184")
    val events = Tables.events(s, dir)
      .select(col("ts").cast("timestamp_ltz").as("ts"),
        col("event_type"), col("value"))
    val flushType = "__flush"
    Streams.orderedChunkFeed(events, s"$work/feed", 4, col("ts"))
    val maxRow = events.agg(max(col("ts"))).head()
    if (maxRow.isNullAt(0))
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL("hour_start bigint, event_type string, " +
          "event_count bigint, value_cents bigint"))
    val far = new java.sql.Timestamp(
      maxRow.getTimestamp(0).getTime + 48L * 3600 * 1000)
    Streams.orderedChunkFeed(
      s.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(far, flushType, 0.0),
        org.apache.spark.sql.Row(
          new java.sql.Timestamp(far.getTime + 60000), flushType, 0.0)),
        StructType.fromDDL(
          "ts timestamp_ltz, event_type string, value double")),
      s"$work/feed", 1, col("ts"))
    val stream = Streams.fileFeed(streamSession(s), // 8 store partitions (q113)
      "ts timestamp_ltz, event_type string, value double", s"$work/feed")
    Streams.runToCompletion(stream.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("event_count"),
        sum(floor(col("value") * 100).cast("long")).as("value_cents"))
      .select(unix_timestamp(col("w.start")).as("hour_start"),
        col("event_type"), col("event_count"), col("value_cents"))
      .writeStream.format("parquet").option("path", s"$work/windows")
      .option("checkpointLocation", s"$work/ckpt")
      .outputMode(OutputMode.Append()))
    s.read.schema(StructType.fromDDL("hour_start bigint, " +
        "event_type string, event_count bigint, value_cents bigint"))
      .parquet(s"$work/windows")
      .filter(col("event_type") =!= flushType)
  }

  /** q192: the STREAM-STATIC enrichment join on the oracle board — the
    * streaming-join flavor q175/q176/q179 do NOT cover (those are
    * stream-STREAM). Each micro-batch of the event feed joins to the
    * STATIC customer dimension with an explicit broadcast hint; the
    * static side re-plans per RUN (a parquet dim pins its file
    * listing at query start, so a dim refresh lands on restart —
    * stream offsets continue exactly-once from the checkpoint;
    * refresh-per-trigger needs a listing-free source like JDBC —
    * StreamsSpec pins the restart semantics) and the join holds NO
    * state — no watermark, no state store, which is exactly why this shape is
    * the default enrichment pattern at 100 TB ingest: a dim⋈stream
    * broadcast join costs the same per batch forever, while buffering
    * the dim into a stream-stream join would pin it in state stores.
    * Enriched rows land in an append parquet sink (the enriched feed
    * IS the product; the census is its verification); value mass
    * rides integer cents per the q184 discipline. Oracle: the batch
    * join census. */
  def q192StreamEnrich(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val work = Streams.scratchDir("graft_q192")
    val events = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("value"))
    Streams.orderedChunkFeed(events, s"$work/feed", 4, col("user_id"))
    val ss = streamSession(s)
    val dim = graft.Tables.customer(ss, dir)
      .select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment"))
    val stream = Streams.fileFeed(ss,
      "user_id bigint, event_type string, value double", s"$work/feed")
    Streams.runToCompletion(stream.join(broadcast(dim), Seq("user_id"))
      .select(col("segment"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
      .writeStream.format("parquet").option("path", s"$work/rows")
      .option("checkpointLocation", s"$work/ckpt")
      .outputMode(OutputMode.Append()))
    s.read.schema(StructType.fromDDL(
        "segment string, event_type string, cents bigint"))
      .parquet(s"$work/rows")
      .groupBy(col("segment"), col("event_type"))
      .agg(count(lit(1)).as("events"), sum(col("cents")).as("value_cents"))
  }

  /** q196: SCD2 dimension maintenance AT INGEST — the q194
    * gaps-and-islands build as a keyed-state streaming operator
    * ([[graft.streaming.StatefulScd2]]): state changes close validity
    * intervals across micro-batch boundaries (the hand-offs a
    * per-batch window would lose), the carry is O(1) per user, and
    * the open runs flush through an absolute quiesce timer when the
    * sentinel advances the watermark past it. Closed + open intervals
    * land in a parquet sink; the census is q194's. Oracle: q194Sql —
    * a green row means the streaming state machine reproduced the
    * batch SCD2 build µs-exactly, open intervals included. */
  def q196IncrementalScd2(s: SparkSession, dir: String): DataFrame =
    scd2Census(s, dir, "graft_q196", rocksdb = false)(
      graft.streaming.StatefulScd2.intervals(_, _))

  /** The q196 harness parameterized by the SCD2 state machine (the
    * transitionsCensus discipline, interval edition). */
  private def scd2Census(s: SparkSession, dir: String, tag: String,
                         rocksdb: Boolean)(
      machine: (org.apache.spark.sql.Dataset[
          graft.streaming.StatefulScd2.SEvent], Long) =>
        org.apache.spark.sql.Dataset[
          graft.streaming.StatefulScd2.Interval]): DataFrame = {
    import graft.streaming.{StatefulScd2, StatefulTransitions}
    import graft.streaming.StatefulScd2.SEvent
    import org.apache.spark.sql.streaming.OutputMode
    implicit val ee = org.apache.spark.sql.Encoders.product[SEvent]
    // empty-corpus guard BEFORE any staging work: the early return
    // must not pay the corpus range-shuffle it exists to skip
    val maxRow = Tables.events(s, dir)
      .agg(max(col("ts").cast("timestamp_ltz"))).head()
    if (maxRow.isNullAt(0))
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL("event_type string, intervals bigint, " +
          "closed bigint, dur_us_sum bigint, dur_us_max bigint"))
    val work = Streams.scratchDir(tag)
    val flushUser = -1L
    StatefulTransitions.stageOrderedFeed(s, dir, s"$work/feed", 4)
    val maxTs = maxRow.getTimestamp(0)
    // quiesce point 1 h past the corpus; sentinels 48 h past it drive
    // the watermark over the flush timer (q113's two-chunk staging)
    val flushUs = graft.streaming.StatefulSessions.micros(
      new java.sql.Timestamp(maxTs.getTime)) + 3600L * 1000000L
    val far = new java.sql.Timestamp(maxTs.getTime + 48L * 3600 * 1000)
    Streams.orderedChunkFeed(
      s.createDataset(
        Seq(far, new java.sql.Timestamp(far.getTime + 60000))
          .map(t => SEvent(flushUser, t, "__flush", -1L)))(ee)
        .toDF(),
      s"$work/feed", 1, col("ts"))
    val ss = if (rocksdb) rocksSession(s) else streamSession(s)
    val feed = StatefulTransitions.feedStream(ss, s"$work/feed")
      .map(e => SEvent(e.user_id, e.ts, e.event_type, e.event_id))(ee)
    Streams.runToCompletion(machine(feed, flushUs).writeStream
      .format("parquet").option("path", s"$work/intervals")
      .option("checkpointLocation", s"$work/ckpt")
      .outputMode(OutputMode.Append()))
    s.read.parquet(s"$work/intervals")
      .filter(col("user_id") =!= flushUser)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("intervals"),
        sum(when(col("to_us").isNull, 0L).otherwise(1L)).as("closed"),
        sum(col("to_us") - col("from_us")).as("dur_us_sum"),
        max(col("to_us") - col("from_us")).as("dur_us_max"))
  }

  /** q218: the `transformWithState` SCD2 builder on the oracle board —
    * the last of the three custom state machines to get its Spark-4
    * twin oracle-gated: [[graft.streaming.StatefulScd2.TwsScd2]]
    * (named ValueState open-run carry, the absolute quiesce timer as
    * an explicit registered timer) runs the q196 harness verbatim and
    * must reproduce batch q194's gaps-and-islands intervals µs-exactly
    * — open intervals, quiesce-closed runs and all. */
  def q218TwsScd2(s: SparkSession, dir: String): DataFrame =
    scd2Census(s, dir, "graft_q218", rocksdb = true)(
      graft.streaming.StatefulScd2.intervalsTws(_, _))

  /** q198: the q197 snapshot diff AT INGEST — the new crawl lands as a
    * stream, each micro-batch reduced scan-side to its fingerprint
    * manifest rows (doc_id, source, canonical md5 — texts never enter
    * the state) and appended as a replay-idempotent batch_id
    * partition; the snapshot distincts the doc-keyed log (the
    * min-merge family's duplication tolerance) and runs q197's exact
    * diff tail against the old crawl's manifest. This is nightly
    * versioning without the nightly rescan: the diff is available
    * mid-crawl, and its cost is the manifest join, never the corpus.
    * Oracle: q197Sql. */
  def q198IncrementalSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val work = streamedFrame(s, PipelineQ.snapshotBDocs(s, dir),
      "doc_id bigint, source string, text string") { (docs, work) =>
      Streams.appendParquetSink(
        docs.select(col("doc_id"), col("source"),
          graft.ops.TextOps.fingerprint(col("text")).as("fp")),
        s"$work/manifest", s"$work/ckpt")
    }
    val bManifest = s.read
      .schema(StructType.fromDDL(
        "doc_id bigint, source string, fp string, batch_id bigint"))
      .parquet(s"$work/manifest")
      .select(col("doc_id"), col("source").as("source_b"),
        col("fp").as("fp_b"))
      .distinct()
    PipelineQ.diffCensus(PipelineQ.snapshotAManifest(s, dir), bManifest)
  }

  /** q199: deletion propagation AT INGEST — q193's right-to-be-
    * forgotten purge applied while the data is still arriving, so
    * erased users' rows never LAND (GDPR storage-limitation wants the
    * tombstone enforced at the write path, not only by a nightly
    * sweep). Each micro-batch anti-joins the broadcast tombstone set
    * (stream-static left_anti — the complement of q192's enrichment
    * join: same no-state/no-watermark shape, same per-batch broadcast
    * cost forever); kept rows land in the append sink, and the census
    * re-audits the LANDED product with a semi-join so residual_refs
    * is a measured zero over what was actually written, q193's
    * discipline. Oracle: the events leg of the batch purge census.
    *
    * Scale shape: the tombstone dim is O(erasure requests) —
    * broadcast-able by definition; the stream side never shuffles and
    * holds no state, so ingest throughput is the scan rate. The
    * total/kept counts are sink-side aggregates of the landed feed,
    * not driver accumulators. */
  def q199IncrementalPurge(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val ddl = "event_id bigint, user_id bigint"
    def tombOf(sess: SparkSession) =
      Tables.customer(sess, dir).filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("t_key"))
    val work = streamedEvents(s, dir, Seq("event_id", "user_id"), ddl) {
      (events, work) =>
        events.join(broadcast(tombOf(events.sparkSession)),
            col("user_id") === col("t_key"), "left_anti")
          .writeStream.format("parquet").option("path", s"$work/kept")
          .option("checkpointLocation", s"$work/ckpt")
          .outputMode(OutputMode.Append())
    }
    val kept = s.read.schema(StructType.fromDDL(ddl)).parquet(s"$work/kept")
    val staged = s.read.schema(StructType.fromDDL(ddl))
      .parquet(s"$work/chunks")
    staged.agg(count(lit(1)).as("total_rows"))
      .crossJoin(kept.agg(count(lit(1)).as("kept_rows")))
      .crossJoin(kept.join(broadcast(tombOf(s)),
          col("user_id") === col("t_key"), "left_semi")
        .agg(count(lit(1)).as("residual_refs")))
      .select(lit("events").as("rel"), col("total_rows"),
        (col("total_rows") - col("kept_rows")).as("purged_rows"),
        col("kept_rows"), col("residual_refs"))
  }

  /** q199 oracle — the events leg of q193's purge census. */
  val q199Sql: String =
    """WITH tomb AS (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
      |SELECT 'events' AS rel,
      |       (SELECT count(*) FROM events) AS total_rows,
      |       (SELECT count(*) FROM events
      |        WHERE EXISTS (SELECT 1 FROM tomb t
      |                      WHERE t.c_custkey = events.user_id))
      |         AS purged_rows,
      |       (SELECT count(*) FROM events
      |        WHERE NOT EXISTS (SELECT 1 FROM tomb t
      |                          WHERE t.c_custkey = events.user_id))
      |         AS kept_rows,
      |       CAST(0 AS BIGINT) AS residual_refs""".stripMargin

  /** q202: the q195 data-quality expectations gate AT INGEST — the
    * admit-to-training validation run where it belongs at 100 TB: on
    * each arriving micro-batch, not as a nightly full rescan. The FK
    * probe is a stream-static broadcast left join against the ACTIVE
    * customer dimension (c_acctbal ≥ 0 — referential integrity
    * against the non-erased dim, the q199/q193 governance tie-in, and
    * a check with real violation mass); the null and range scans are
    * scan-side flags. Each batch lands per-(check, key) partials —
    * rows and violations are SUM-mergeable, and the keyed grain keeps
    * distinct_keys reconstructible exactly (keys are bounded: users ×
    * event types, never rows) — as replay-idempotent batch_id
    * partitions; the snapshot re-sums and counts distinct keys.
    * Oracle: the batch spelling of all three checks ([[q202Sql]]).
    *
    * Scale shape: no state store at all — the monitor is the
    * sum-merge family's shape (q105's token log, check-census
    * edition): per-batch state is O(active users + event types), the
    * stream never shuffles corpus rows (the groupBy runs inside
    * foreachBatch on batch-local rows), and the gate's verdict is
    * readable mid-ingest from O(keys) partials. */
  def q202IncrementalExpectations(s: SparkSession, dir: String): DataFrame = {
    val work = streamedEvents(s, dir, Seq("user_id", "event_type", "value"),
      "user_id bigint, event_type string, value double") { (events, work) =>
      val active = Tables.customer(events.sparkSession, dir)
        .filter(col("c_acctbal") >= 0)
        .select(col("c_custkey").as("pk")).distinct()
      Streams.incrementalExpectations(
        events.join(broadcast(active), col("user_id") === col("pk"), "left"),
        s"$work/checks", s"$work/ckpt")
    }
    Streams.expectationsSnapshot(s, s"$work/checks")
  }

  /** q202 oracle — the batch expectations census over the full events
    * table: FK against the active (non-tombstoned) customer dim,
    * non-empty event_type, value ≥ 1. */
  val q202Sql: String =
    """SELECT 'fk_events_active_customer' AS check_name,
      |       count(*) AS rows_checked,
      |       CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM customer c
      |                  WHERE c.c_custkey = e.user_id
      |                    AND c.c_acctbal >= 0)
      |         THEN 1 ELSE 0 END) AS BIGINT) AS violations,
      |       count(DISTINCT user_id) AS distinct_keys
      |FROM events e
      |UNION ALL
      |SELECT 'nn_events_type', count(*),
      |       CAST(sum(CASE WHEN event_type IS NULL OR length(event_type) = 0
      |         THEN 1 ELSE 0 END) AS BIGINT),
      |       count(DISTINCT event_type)
      |FROM events
      |UNION ALL
      |SELECT 'range_events_value', count(*),
      |       CAST(sum(CASE WHEN value < 1 THEN 1 ELSE 0 END) AS BIGINT),
      |       count(DISTINCT event_type)
      |FROM events""".stripMargin

  /** q203: the q200 content-integrity roots AT INGEST — each arriving
    * micro-batch folds to per-source root partials ([[graft.streaming
    * .Streams.incrementalIntegrityRoots]]); because the q200 combiners
    * form a commutative monoid, the landed partials merge to EXACTLY
    * the batch corpus roots whatever the batch boundaries (xor of
    * xors; (Σ sᵢ mod p) mod p). This is what makes the commitment
    * usable on a live lake: the current root is readable mid-crawl
    * from O(sources × batches) partials, and a replica re-computing
    * from its own scan order must agree bit-for-bit. Oracle: q200Sql —
    * the ingest fold and the one-shot batch scan pinned to the same
    * roots. */
  def q203IncrementalRoots(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("source", "doc_id", "text"),
      "source string, doc_id bigint, text string") { (docs, work) =>
      Streams.incrementalIntegrityRoots(docs, s"$work/roots", s"$work/ckpt")
    }
    Streams.integrityRootsSnapshot(s, s"$work/roots")
  }

  /** q204: benchmark-contamination screening AT INGEST — q49's
    * train/test hygiene check where a production pipeline actually
    * wants it: on each arriving micro-batch, so a contaminated crawl
    * shard is visible (and quarantinable) before the corpus lands in a
    * training mix. The benchmark's sorted shingle array is pulled once
    * before the stream (size-gated — the same bound as q49's one-row
    * broadcast; a benchmark past that bound takes q56's shuffle-join
    * spelling instead) and rides the foreachBatch closure as a
    * plan-constant, so each batch pays |doc shingles|·log|bench|
    * binary searches scan-side and lands O(sources) mergeable
    * (count, max) partials — no state store, no corpus shuffle.
    * Oracle: q49Sql — the ingest gate and the batch screen pinned to
    * the same census. */
  def q204IncrementalContamination(s: SparkSession, dir: String): DataFrame = {
    val bench = Text.benchShingleArray(s, dir)
    val work = streamed(s, dir, Seq("source", "doc_id", "text"),
      "source string, doc_id bigint, text string") { (docs, work) =>
      Streams.incrementalContamination(docs, bench, s"$work/hits",
        s"$work/ckpt")
    }
    Streams.contaminationSnapshot(s, s"$work/hits")
  }

  /** q206: near-dup CLUSTER assignment from the ingest-accumulated
    * pair log — the dedup ladder's last batch-only rung made
    * available mid-crawl. q107 proved the incremental LSH index logs
    * exactly the batch candidate set; this row takes the next step a
    * curation pipeline actually needs: verified edges (Jaccard ≥ 0.5,
    * the one [[graft.queries.Dedup.verifiedEdges]] bar) from the
    * logged candidates, then the cluster propagation over that edge
    * list — so "which canonical does this doc collapse to" is
    * answerable while the crawl is still landing, not after a nightly
    * ladder re-run. Oracle: q46Sql — the ingest-fed clustering and
    * the batch clustering pinned to identical assignments, canonicals
    * included.
    *
    * Scale shape: the stream side is q107's audited machinery
    * ((band, batch)-partitioned signature index, pruned history
    * reads); verification touches only logged candidates; the
    * propagation runs on the verified EDGE list — O(docs-in-pairs),
    * tiny against the corpus. */
  def q206IncrementalClusters(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("doc_id", "text"),
      "doc_id bigint, text string") { (docs, work) =>
      Streams.incrementalLshDedup(docs, s"$work/index", s"$work/pairs",
        s"$work/ckpt")
    }
    Dedup.clustersFromEdgesCounted(Dedup.verifiedEdgesFromLog(
      s.read.parquet(s"$work/pairs"), Tables.documents(s, dir)))._1
  }

  /** q207: the q149 dataset datasheet AT INGEST — the release card a
    * corpus ships, maintainable WHILE the crawl lands. One stream
    * pass; each micro-batch lands every card member at its natural
    * partial grain ([[graft.streaming.Streams.incrementalDatasetCard]]:
    * 1-row sums, distinct key rows, the (fp, split) manifest, the
    * audited LSH candidate log), and the snapshot re-merges them
    * through the SHARED compose tail — so the mid-crawl card and the
    * batch card are the same arithmetic by construction, and the
    * oracle row (q149Sql) proves it bit-for-bit, near-dup members
    * included. The near-dup census rides the same signature index the
    * dedup pipeline already pays for: the datasheet is a free
    * by-product of ingest-time dedup, not a nightly corpus re-scan. */
  def q207IncrementalCard(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("doc_id", "source", "lang", "text"),
      "doc_id bigint, source string, lang string, text string") {
      (docs, work) =>
        Streams.incrementalDatasetCard(docs, work, s"$work/ckpt")
    }
    Streams.datasetCardSnapshot(s, work, Tables.documents(s, dir))
  }

  /** q209: the q208 write-path gate AT INGEST — the front door run
    * where a front door belongs, on each arriving micro-batch: the
    * shared gate stages execute scan-side per batch against the
    * plan-constant bench array (one size-gated pull pre-stream, q204's
    * pattern), and per-source census partials land replay-idempotent —
    * counts sum-merge, the landed commitment xor-merges, so "what has
    * the gate admitted so far, and what is its integrity root" is an
    * O(sources) read at any moment of the crawl. Oracle: q208Sql —
    * the ingest gate and the batch gate pinned to the same census,
    * xor commitment included. */
  def q209IncrementalGate(s: SparkSession, dir: String): DataFrame = {
    val bench = PipelineQ.gateBenchArray(s, dir)
    val work = streamed(s, dir, Seq("doc_id", "source", "text"),
      "doc_id bigint, source string, text string") { (docs, work) =>
      Streams.incrementalWritePathGate(docs, bench, s"$work/census",
        s"$work/ckpt")
    }
    Streams.writePathGateSnapshot(s, s"$work/census")
  }

  /** q210: the q201 calibration census AT INGEST — the classifier
    * reliability diagram maintained while the corpus lands, so a
    * drifting quality/language gate is visible per crawl shard, not at
    * the next offline eval. Pure sum-merge family: each batch lands
    * ≤10 bin partials (n, Σpred, positives) and the ratio columns are
    * derived AFTER the merge. Oracle: q201Sql. */
  def q210IncrementalCalibration(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("lang", "text"),
      "lang string, text string") { (docs, work) =>
      Streams.incrementalCalibration(docs, s"$work/bins", s"$work/ckpt")
    }
    Streams.calibrationSnapshot(s, s"$work/bins")
  }

  /** q211: z-order clustering AT INGEST — the lake-maintenance write
    * path that keeps zone maps tight WHILE the fact table streams in,
    * instead of a nightly whole-table OPTIMIZE rewrite: each
    * micro-batch lands curve-clustered (one file per touched coarse
    * curve dir, fine-grain zfile locality inside — [[graft.streaming
    * .Streams.incrementalZorder]]), and the zone-map census over the
    * landed index is bit-equal to the batch q72 census because the
    * curve position is a pure function of the row. Readers get
    * directory pruning on zdir + row-group locality on zfile from the
    * moment a batch commits. Oracle: q72Sql. */
  def q211IncrementalZorder(s: SparkSession, dir: String): DataFrame = {
    val work = streamedFrame(s, Layout.dayAndCust(s, dir),
      "day bigint, o_custkey bigint") { (facts, work) =>
      Streams.incrementalZorder(facts, s"$work/index", s"$work/ckpt")
    }
    Streams.zorderSnapshot(s, s"$work/index")
  }

  /** q192 oracle — the batch spelling of the enrichment join census,
    * identical integer-cents quantization. */
  val q192Sql: String =
    """SELECT c.c_mktsegment AS segment, e.event_type,
      |       count(*) AS events,
      |       CAST(sum(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT)
      |         AS value_cents
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1, 2""".stripMargin

  /** q184 oracle — the batch spelling of the tumbling-window census
    * with the identical integer-cents quantization. */
  val q184Sql: String =
    """SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
      |         AS hour_start,
      |       event_type, count(*) AS event_count,
      |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
      |         AS value_cents
      |FROM events GROUP BY 1, 2""".stripMargin

  /** q177 oracle — the original (single-delivery) corpus census. */
  val q177Sql: String =
    """SELECT event_type, count(*) AS events,
      |       count(DISTINCT user_id) AS users,
      |       min(event_id) AS min_event_id, max(event_id) AS max_event_id
      |FROM events GROUP BY 1""".stripMargin

  /** q176 oracle — batch census: distinct views, views with ≥1 click
    * inside the 24 h window, the rest dropped. */
  val q176Sql: String =
    """WITH v AS (SELECT user_id, event_id,
      |             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |           FROM events WHERE event_type = 'view'),
      |c AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |      FROM events WHERE event_type = 'click'),
      |m AS (SELECT DISTINCT v.event_id FROM v JOIN c
      |      ON v.user_id = c.user_id
      |        AND c.us > v.us AND c.us <= v.us + 86400000000)
      |SELECT CAST(v_n AS BIGINT) AS views, CAST(m_n AS BIGINT) AS converted,
      |       CAST(v_n - m_n AS BIGINT) AS dropped,
      |       (v_n - m_n) * 1000000 // v_n AS drop_ppm
      |FROM (SELECT (SELECT count(*) FROM v) AS v_n,
      |             (SELECT count(*) FROM m) AS m_n)""".stripMargin

  /** q175 oracle — the batch spelling of the same interval join. */
  val q175Sql: String =
    """WITH v AS (SELECT user_id, event_id,
      |             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |           FROM events WHERE event_type = 'view'),
      |c AS (SELECT user_id, event_id,
      |        epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |      FROM events WHERE event_type = 'click'),
      |p AS (SELECT v.user_id, c.us - v.us AS gap_us
      |      FROM v JOIN c ON v.user_id = c.user_id
      |        AND c.us > v.us AND c.us <= v.us + 86400000000)
      |SELECT count(*) AS pairs,
      |       count(DISTINCT user_id) AS users,
      |       min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us,
      |       CAST(sum(gap_us) AS BIGINT) AS sum_gap_us
      |FROM p""".stripMargin

  /** q147: the q139 Markov transition matrix with the transitions
    * extracted by the STATEFUL streaming operator
    * ([[graft.streaming.StatefulTransitions]]) — the full events
    * table streamed in event-time order through ~6 micro-batches, the
    * per-user last-event carry crossing every batch boundary (the
    * hand-offs a per-batch window would drop are exactly what the
    * keyed state exists for). Oracle: q139Sql — a green row means the
    * flatMapGroupsWithState carry reproduced the batch window's
    * matrix bit-for-bit, conditional ppm included.
    *
    * Fully distributed end to end (round-9; this path and q113 were
    * the verdict's two standing `weak`s): the feed is
    * [[graft.streaming.StatefulTransitions.stageOrderedFeed]]'s
    * range-sorted chunk files — (ts, event_id) tie-break ranges, so
    * equal-µs events split across a chunk boundary still replay in
    * the q139 attribution order — the emitted transitions land in a
    * parquet sink, and the matrix + totals join aggregate from that
    * parquet (file-backed, so the round-7 MemoryPlan
    * conflicting-reference workaround and its O(T²) driver collect
    * are both gone). The state path is hash-partitioned by user_id
    * as on a cluster. */
  def q147IncrementalTransitions(s: SparkSession, dir: String): DataFrame =
    transitionsCensus(s, dir, "graft_q147", rocksdb = false)(
      graft.streaming.StatefulTransitions.transitions(_))

  /** The q147 harness parameterized by the transition state machine —
    * ONE feed/sink/census spelling for the classic and TWS paths, so
    * the two oracle rows can only differ in the operator under test. */
  private def transitionsCensus(s: SparkSession, dir: String, tag: String,
                                rocksdb: Boolean)(
      machine: org.apache.spark.sql.Dataset[
          graft.streaming.StatefulTransitions.TEvent] =>
        org.apache.spark.sql.Dataset[
          graft.streaming.StatefulTransitions.Transition]): DataFrame = {
    import graft.streaming.StatefulTransitions
    import org.apache.spark.sql.streaming.OutputMode
    val work = Streams.scratchDir(tag)
    StatefulTransitions.stageOrderedFeed(s, dir, s"$work/feed", 6)
    val ss = if (rocksdb) rocksSession(s) else streamSession(s)
    Streams.runToCompletion(
      machine(StatefulTransitions.feedStream(ss, s"$work/feed"))
        .writeStream
        .format("parquet").option("path", s"$work/trans")
        .option("checkpointLocation", s"$work/ckpt")
        .outputMode(OutputMode.Append()))
    val matrix = s.read.parquet(s"$work/trans")
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("transitions"))
    matrixPpm(matrix)
  }

  /** q139's conditional-ppm tail over a (from_type, to_type,
    * transitions) matrix — shared by the q147/q217 harness and q227. */
  private def matrixPpm(matrix: DataFrame): DataFrame = {
    val fromTotals = matrix.groupBy(col("from_type"))
      .agg(sum(col("transitions")).as("from_total"))
    matrix.join(broadcast(fromTotals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("transitions"),
        expr("transitions * 1000000 div from_total").as("prob_ppm"))
  }

  /** q217: the `transformWithState` TRANSITION extractor on the oracle
    * board — q214's discipline applied to the second state machine:
    * [[graft.streaming.StatefulTransitions.TwsTransitions]] (named
    * ValueState carry, one absolute event-time timer re-armed per
    * batch) runs the q147 harness verbatim and must reproduce batch
    * q139's Markov matrix bit-for-bit, conditional ppm included. With
    * q214 (sessions) and q218 (SCD2), every custom stateful operator
    * in the engine now has its Spark-4 successor-API twin
    * oracle-gated, not just StreamsSpec-diffed. */
  def q217TwsTransitions(s: SparkSession, dir: String): DataFrame =
    transitionsCensus(s, dir, "graft_q217", rocksdb = true)(
      graft.streaming.StatefulTransitions.transitionsTws(_))

  /** q156: q155's sampled length quantiles with the SAMPLE side
    * computed from the incremental monitor's landed per-batch
    * bottom-k partials (min-merge family, (hash, value)-pair
    * edition; ≤k rows per source per batch). The exact-median audit
    * recomputes in batch — it exists to measure the sample. Oracle:
    * q155Sql — a green row means the streamed O(k) sample reproduced
    * the batch kernel's quantiles bit-for-bit across micro-batch
    * boundaries. */
  def q156IncrementalQuantiles(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("source", "doc_id", "n_chars"),
      "source string, doc_id bigint, n_chars bigint") { (docs, work) =>
      Streams.incrementalQuantileSample(docs, s"$work/sample", s"$work/ckpt",
        Stats.QuantileRegK)
    }
    Streams.quantileSnapshot(s, s"$work/sample",
      Stats.exactMedianOf(Tables.documents(s, dir)), Stats.QuantileRegK)
  }

  /** q152: q31's embedding near-dup pairs from the incremental ANN
    * ingest (round-7/8 verdict: the last incremental index without an
    * oracle row) — the bucket-partitioned hyperplane signature index
    * accumulates across micro-batches (within-batch pairing + new-vs-
    * history via partition-pruned bucket reads), and the logged
    * candidates are deduped across batch partitions (replay-safe).
    * Oracle: q31Sql. A green row means the cross-batch bucket pairing
    * reproduces the batch hyperplane self-join EXACTLY: every pair
    * lives in exactly one bucket, so within-batch ∪ vs-history
    * candidates over the micro-batches must union to precisely the
    * batch pair set, cosine verification and rounding included. */
  def q152IncrementalAnn(s: SparkSession, dir: String): DataFrame = {
    val work = streamedFrame(s,
      Tables.embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")),
      "vec_id bigint, v array<double>") { (emb, work) =>
      Streams.incrementalAnnNearDups(emb, s"$work/index", s"$work/pairs",
        s"$work/ckpt")
    }
    s.read.parquet(s"$work/pairs")
      .select(col("bucket"), col("vec_a"), col("vec_b"), col("cos_sim"))
      .distinct()
  }

  /** q163: q152's ANN near-dup pairing with the bucket-partitioned
    * hyperplane index COMPACTED MID-INGEST (q162's maintenance cycle,
    * ANN edition — and the index where compaction matters most: its
    * rows carry the vectors, so un-folded batch fragments are the
    * biggest small-file surface in the engine). Half the embeddings
    * ingest in 2 micro-batches; [[Streams.compactLshIndex]] folds the
    * (bucket_grp, batch_id) partitions; the second half resumes from
    * the same checkpoint and its vs-history pairing reads the merged
    * index. Oracle: q31Sql — the union pair set must equal the batch
    * hyperplane self-join exactly, cosine rounding included. */
  def q163CompactedAnnIndex(s: SparkSession, dir: String): DataFrame = {
    val work = Streams.scratchDir("graft_incq")
    val emb = Tables.embeddings(s, dir).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    def run(): Unit = Streams.runToCompletion(Streams.incrementalAnnNearDups(
      Streams.fileFeed(streamSession(s), "vec_id bigint, v array<double>",
        s"$work/feed"), s"$work/index", s"$work/pairs", s"$work/ckpt"))
    Streams.orderedChunkFeed(emb.filter(col("vec_id") % 2 === 0),
      s"$work/feed", 2, col("vec_id"))
    run()
    Streams.compactLshIndex(s, s"$work/index", Seq("bucket_grp"))
    Streams.orderedChunkFeed(emb.filter(col("vec_id") % 2 === 1),
      s"$work/feed", 2, col("vec_id"))
    run()
    s.read.parquet(s"$work/pairs")
      .select(col("bucket"), col("vec_a"), col("vec_b"), col("cos_sim"))
      .distinct()
  }

  /** q165: q110's label-centroid similarity matrix computed from the
    * incremental centroid monitor's landed per-batch (label, dim,
    * Σv, n) partials — the vector-valued SUM member of the snapshot
    * family. Oracle: q110Sql — a green row means the persisted
    * running-mean state reproduced the batch centroids through the
    * shared matrix tail, 7-digit round and all, across micro-batch
    * boundaries. */
  def q165IncrementalCentroids(s: SparkSession, dir: String): DataFrame = {
    val work = streamedFrame(s,
      Tables.embeddings(s, dir).select(col("label"), col("embedding")),
      "label int, embedding array<float>") { (emb, work) =>
      Streams.incrementalCentroids(emb, s"$work/cent", s"$work/ckpt")
    }
    Streams.centroidSnapshot(s, s"$work/cent")
  }

  /** q141: q135's KMV distinct census with the SKETCH side computed
    * from the incremental monitor's landed per-batch k-min partials
    * (≤k rows per source per batch; k-min-of-union = k-min of merged
    * k-mins). The exact-distinct audit column recomputes in batch —
    * it exists to measure the sketch, and keeping it exact is what
    * makes the oracle row meaningful. Oracle: q135Sql — a green row
    * means the streamed O(k) state reproduced the batch kernel's
    * estimate bit-for-bit across micro-batch boundaries. */
  def q141IncrementalKmv(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("source", "doc_id", "text"),
      "source string, doc_id bigint, text string") { (docs, work) =>
      Streams.incrementalKmv(docs, s"$work/kmv", s"$work/ckpt")
    }
    Stats.kmvCensus(Streams.kmvSnapshot(s, s"$work/kmv"),
      Stats.chunkAuditDistinct(Tables.documents(s, dir)))
  }

  /** q159: the COMPOSED training-data pipeline, ingested incrementally
    * — the q50 flagship's streaming half on the oracle board. The
    * corpus replays as 4 doc_id-ordered micro-batches
    * ([[Streams.orderedChunkFeed]] — ordered because the pipeline's
    * exact dedup keeps the FIRST-ARRIVED doc per fingerprint, which
    * equals batch q50's min-doc_id exactly when ingest is
    * doc_id-ordered; see the semantics note on
    * [[Streams.incrementalPipeline]]). Each micro-batch runs quality
    * triage, fp-index exact dedup (prefix-pruned history reads), and
    * the LSH dedup step; [[Streams.finalizePipeline]] then runs the
    * corpus-global stages (fuzzy clustering, sampling, packing) over
    * the accumulated logs. Oracle: q50Sql — a green row means the
    * whole streamed-ingest-plus-finalize stack reproduced the batch
    * pipeline's packed manifest bit-for-bit. */
  def q159IncrementalPipeline(s: SparkSession, dir: String): DataFrame = {
    val work = Streams.scratchDir("graft_incq")
    Streams.phase("q159 feed") {
      Streams.orderedChunkFeed(
        Tables.documents(s, dir).select(col("source"), col("doc_id"),
          col("text"), col("n_chars")),
        s"$work/feed", 4, col("doc_id"))
    }
    Streams.phase("q159 ingest") {
      val stream = Streams.fileFeed(streamSession(s),
        "source string, doc_id bigint, text string, n_chars bigint",
        s"$work/feed")
      Streams.runToCompletion(Streams.incrementalPipeline(stream, s"$work/fp",
        s"$work/survivors", s"$work/lsh", s"$work/pairs", s"$work/ckpt"))
    }
    Streams.phase("q159 finalize") {
      Streams.finalizePipeline(s, s"$work/survivors", s"$work/pairs")
    }
  }

  /** q162: q107's LSH near-dup ladder with the signature index
    * COMPACTED MID-INGEST — the row that proves compaction is
    * transparent to the pairing, not just to a snapshot. Half the
    * corpus streams in 2 micro-batches; the stream stops;
    * [[Streams.compactLshIndex]] folds the landed (band, batch_id)
    * partitions into merged batch_id=-1 partitions; the second half
    * then streams FROM THE SAME CHECKPOINT (the file source's
    * seen-files log admits only the appended chunks), and its
    * vs-history pairing reads the COMPACTED index. Oracle: q44Sql —
    * the union pair set must be indistinguishable from never having
    * compacted. This is the real maintenance cycle of a long-running
    * ingest: compact during a quiet window, resume, keep pairing. */
  def q162CompactedLshIndex(s: SparkSession, dir: String): DataFrame = {
    val work = Streams.scratchDir("graft_incq")
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    def run(): Unit = Streams.runToCompletion(Streams.incrementalLshDedup(
      Streams.fileFeed(streamSession(s), "doc_id bigint, text string",
        s"$work/feed"), s"$work/index", s"$work/pairs", s"$work/ckpt"))
    Streams.orderedChunkFeed(docs.filter(col("doc_id") % 2 === 0),
      s"$work/feed", 2, col("doc_id"))
    run()
    Streams.compactLshIndex(s, s"$work/index")
    Streams.orderedChunkFeed(docs.filter(col("doc_id") % 2 === 1),
      s"$work/feed", 2, col("doc_id"))
    run()
    Dedup.jaccardVerify(
      s.read.parquet(s"$work/pairs")
        .select(col("doc_a"), col("doc_b")).distinct(),
      Tables.documents(s, dir))
  }

  /** q157: q156's sampled-quantile census with the partials log
    * COMPACTED between ingest and snapshot — the micro-batches' landed
    * bottom-k partitions are folded into one merged batch_id=-1
    * partition (min-merge, through the one staged commit every fold
    * uses) before the same snapshot runs. Oracle: q155Sql — a green
    * row means compaction preserved the sketch BIT-EXACTLY; this is
    * the maintenance operation that keeps a long-running monitor's
    * partial count O(1) instead of O(ingest age). */
  def q157CompactedQuantiles(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("source", "doc_id", "n_chars"),
      "source string, doc_id bigint, n_chars bigint") { (docs, work) =>
      Streams.incrementalQuantileSample(docs, s"$work/sample", s"$work/ckpt",
        Stats.QuantileRegK)
    }
    Streams.compactMinMergePartials(s, s"$work/sample",
      Streams.quantileSampleMerge(Stats.QuantileRegK))
    Streams.quantileSnapshot(s, s"$work/sample",
      Stats.exactMedianOf(Tables.documents(s, dir)), Stats.QuantileRegK)
  }

  /** q158: q105's mixture weights with the SUM-merge token log
    * compacted through the all-or-nothing staged commit (the family
    * where a half-applied fold would double-count) before the same
    * snapshot runs. Oracle: q97Sql — a green row means the fold
    * preserved the summed totals exactly. */
  def q158CompactedMixture(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("source", "text"),
      "source string, text string") { (docs, work) =>
      Streams.incrementalSourceTokens(docs, s"$work/tokens", s"$work/ckpt")
    }
    Streams.compactSummedPartials(s, s"$work/tokens",
      _.groupBy(col("source")).agg(sum(col("tokens")).as("tokens")))
    Streams.mixtureWeightsSnapshot(s, s"$work/tokens")
  }

  /** q213: the watermarked SLIDING-window aggregation on the oracle
    * board — the last §2.5-claimed window shape without a CORRECTNESS
    * row (tumbling got q184, sessions q17/q113/q180). Overlapping
    * windows MULTI-ASSIGN each event: at 1 h length / 15 min slide
    * every event lands in exactly length/slide = 4 windows, so the
    * census is 4× the event mass by construction and the oracle must
    * reproduce that fan-out (a lateral k∈[0,4) cross in SQL, the
    * built-in `window(ts, len, slide)` expansion in Spark). Value
    * mass rides INTEGER CENTS per row before summing (the q184
    * discipline — a double sum is not order-free across micro-batch
    * boundaries, and here each row's cents are summed into 4
    * different windows, so quantize-before-sum is what makes the 4
    * sums mutually consistent too). Sentinel flush on an impossible
    * event_type advances the watermark past every real window's end;
    * AvailableNow's no-data final batches emit the rest. Oracle: the
    * batch spelling of the same multi-assigned census ([[q213Sql]]).
    *
    * Scale shape: state is O(open windows × types) — the multi-assign
    * inflates the AGGREGATION KEY space ×(len/slide), never the
    * buffered rows (Spark expands the 4 window keys scan-side and
    * partial-aggregates map-side before the one shuffle); watermark
    * eviction caps open windows at horizon/slide per type. */
  def q213StreamSlidingCounts(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val work = Streams.scratchDir("graft_q213")
    val events = Tables.events(s, dir)
      .select(col("ts").cast("timestamp_ltz").as("ts"),
        col("event_type"), col("value"))
    val flushType = "__flush"
    Streams.orderedChunkFeed(events, s"$work/feed", 4, col("ts"))
    val maxRow = events.agg(max(col("ts"))).head()
    if (maxRow.isNullAt(0))
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL("win_start bigint, event_type string, " +
          "event_count bigint, value_cents bigint"))
    val far = new java.sql.Timestamp(
      maxRow.getTimestamp(0).getTime + 48L * 3600 * 1000)
    Streams.orderedChunkFeed(
      s.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(far, flushType, 0.0),
        org.apache.spark.sql.Row(
          new java.sql.Timestamp(far.getTime + 60000), flushType, 0.0)),
        StructType.fromDDL(
          "ts timestamp_ltz, event_type string, value double")),
      s"$work/feed", 1, col("ts"))
    val stream = Streams.fileFeed(streamSession(s), // 8 store partitions (q113)
      "ts timestamp_ltz, event_type string, value double", s"$work/feed")
    Streams.runToCompletion(stream.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), s"$SlideLenSec seconds",
          s"$SlideStepSec seconds").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("event_count"),
        sum(floor(col("value") * 100).cast("long")).as("value_cents"))
      .select(unix_timestamp(col("w.start")).as("win_start"),
        col("event_type"), col("event_count"), col("value_cents"))
      .writeStream.format("parquet").option("path", s"$work/windows")
      .option("checkpointLocation", s"$work/ckpt")
      .outputMode(OutputMode.Append()))
    s.read.schema(StructType.fromDDL("win_start bigint, " +
        "event_type string, event_count bigint, value_cents bigint"))
      .parquet(s"$work/windows")
      .filter(col("event_type") =!= flushType)
  }

  /** Sliding-census geometry (q213): a [[SlideLenSec]] window every
    * [[SlideStepSec]] — each event multi-assigns to [[SlideFanout]]
    * windows. ONE constant set shared by the streaming window spec,
    * the oracle SQL (interpolated) and QueriesSpec's batch twin, so a
    * geometry retune can't silently desynchronize the three. */
  val SlideLenSec = 3600L
  val SlideStepSec = 900L
  val SlideFanout: Long = SlideLenSec / SlideStepSec

  /** q213 oracle — the batch spelling of the sliding census: each
    * event fans out to its [[SlideFanout]] overlapping windows (start
    * = its slide floor minus k slides, k∈[0,fanout)), integer-cents
    * quantization identical. The slide floor runs on INTEGER epoch µs
    * (never a float epoch), so sub-second event times can't drift the
    * window boundary. */
  val q213Sql: String =
    s"""SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // ${SlideStepSec * 1000000L}
       |          - t.k) * $SlideStepSec AS win_start,
       |       event_type, count(*) AS event_count,
       |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
       |         AS value_cents
       |FROM events, range($SlideFanout) t(k)
       |GROUP BY 1, 2""".stripMargin

  /** q214: the `transformWithState` sessionizer on the oracle board —
    * Spark 4's arbitrary-state successor API run END-TO-END against
    * the SAME batch oracle as the classic flatMapGroupsWithState path
    * (q113) and the built-in session_window (q180): three state
    * machines, one answer (q17Sql). The processor keeps named
    * ValueState + one explicit event-time timer per key
    * ([[graft.streaming.StatefulSessions.TwsSessionizer]], semantics
    * pinned to the classic path through the shared mergeBatch fold);
    * StreamsSpec diffs the twins per-batch — this row pins the whole
    * harness (ordered feed, timer close path, sentinel flush,
    * AvailableNow no-data batches, parquet sink) to the batch
    * window-function answer µs-exactly. transformWithState requires
    * multi-column-family state, so the child session runs the RocksDB
    * state store provider — which also makes this the one oracle row
    * exercising RocksDB end-to-end (the q113-family rows measure the
    * default provider). */
  def q214TwsSessions(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StatefulSessions
    import graft.streaming.StatefulSessions.Event
    import org.apache.spark.sql.streaming.OutputMode
    implicit val ee = org.apache.spark.sql.Encoders.product[Event]
    val work = Streams.scratchDir("graft_q214")
    val events = Tables.events(s, dir)
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp_ltz").as("ts"))
    val flushUser = -1L
    Streams.orderedChunkFeed(events, s"$work/feed", 4, col("ts"))
    val maxRow = events.agg(max(col("ts"))).head()
    if (maxRow.isNullAt(0))
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL(
          "user_id bigint, session_count bigint, max_session_events bigint"))
    val far = new java.sql.Timestamp(
      maxRow.getTimestamp(0).getTime + 48L * 3600 * 1000)
    Streams.orderedChunkFeed(
      s.createDataset(Seq(far, new java.sql.Timestamp(far.getTime + 60000))
        .map(t => Event(flushUser, t)))(ee).toDF(),
      s"$work/feed", 1, col("ts"))
    val stream = Streams.fileFeed(
      rocksSession(s), // transformWithState: multi-CF state
      "user_id bigint, ts timestamp_ltz", s"$work/feed")
    Streams.runToCompletion(
      StatefulSessions.sessionizeTws(stream.as[Event]).writeStream
        .format("parquet").option("path", s"$work/sessions")
        .option("checkpointLocation", s"$work/ckpt")
        .outputMode(OutputMode.Append()))
    s.read.parquet(s"$work/sessions")
      .filter(col("user_id") =!= flushUser)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("session_count"),
        max(col("event_count")).as("max_session_events"))
  }

  /** q215: the z-order curve index COMPACTED MID-INGEST — q211 lands
    * one file per touched zdir per micro-batch, so each curve dir
    * accumulates O(batches) fragments; this row runs the q162/q163
    * maintenance cycle on the LAYOUT index: half the facts ingest in
    * 2 micro-batches, [[Streams.compactZorderIndex]] folds the landed
    * (zdir, batch_id) partitions into one merged batch_id=-1 file per
    * zdir — through the all-or-nothing staged commit, because index
    * rows are FACTS and a half-applied fold would double-count them
    * — and the second half resumes from the same
    * checkpoint onto the folded index. Oracle: q72Sql — the zone-map
    * census over the compacted index must be bit-equal to never
    * having compacted; StreamsSpec proves the fold's payoff (one
    * consolidated file per zdir, zdir predicates still reaching
    * PartitionFilters). */
  def q215CompactedZorder(s: SparkSession, dir: String): DataFrame = {
    val work = Streams.scratchDir("graft_q215")
    val facts = graft.queries.Layout.dayAndCust(s, dir)
    def run(): Unit = Streams.runToCompletion(Streams.incrementalZorder(
      Streams.fileFeed(streamSession(s), "day bigint, o_custkey bigint",
        s"$work/feed"), s"$work/index", s"$work/ckpt"))
    Streams.orderedChunkFeed(facts.filter(col("o_custkey") % 2 === 0),
      s"$work/feed", 2, col("o_custkey"))
    run()
    Streams.compactZorderIndex(s, s"$work/index")
    Streams.orderedChunkFeed(facts.filter(col("o_custkey") % 2 === 1),
      s"$work/feed", 2, col("o_custkey"))
    run()
    Streams.zorderSnapshot(s, s"$work/index")
  }

  /** q216: the tombstone VACUUM for landed indexes — the
    * right-to-be-forgotten gap q199 leaves: the write-path purge
    * keeps erased subjects out of NEW batches, but their rows already
    * inside the persisted LSH signature index and candidate-pair log
    * outlive it. Here the full corpus ingests through the q107
    * ladder, a tombstone set (every doc with doc_id % 10 = 3 — the
    * erasure-request stand-in) then vacuums BOTH artifacts
    * ([[Streams.vacuumTombstoned]]: affected partitions only, rewrite
    * through the per-partition staged atomic swap; a pair dies if
    * EITHER endpoint is tombstoned), the residual audit measures ZERO
    * remaining references (q193's discipline, enforced loudly — a
    * silent non-zero would make the census row meaningless), and the
    * census Jaccard-verifies the vacuumed pair log against the live
    * corpus. Oracle: the batch LSH ladder over documents MINUS the
    * tombstoned set — green means the vacuumed index is
    * indistinguishable from one the erased docs never entered
    * (signatures and shingle sets are per-doc, so candidacy of a live
    * pair is corpus-independent — the law that makes the oracle
    * exact). */
  def q216IndexVacuum(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("doc_id", "text"),
      "doc_id bigint, text string") { (docs, work) =>
      Streams.incrementalLshDedup(docs, s"$work/index", s"$work/pairs",
        s"$work/ckpt")
    }
    val tombs = Tables.documents(s, dir)
      .filter(col("doc_id") % TombMod === TombResidue).select(col("doc_id"))
    // the two artifacts are independent (no manifest coupling here —
    // q229 covers the grouped publish): vacuum them concurrently and
    // audit both in one action (guide §2.6), same per-artifact protocol
    Streams.vacuumTombstonedPar(s, Seq(
      (s"$work/index", Seq("doc_id"), Seq("band", "batch_id")),
      (s"$work/pairs", Seq("doc_a", "doc_b"), Seq("batch_id"))), tombs)
    val residual = Streams.tombstoneResidualsMany(s, Seq(
      (s"$work/index", Seq("doc_id")),
      (s"$work/pairs", Seq("doc_a", "doc_b"))), tombs)
    require(residual == 0L,
      s"index vacuum left $residual tombstoned references — audit failed")
    Dedup.jaccardVerify(
      s.read.parquet(s"$work/pairs")
        .select(col("doc_a"), col("doc_b")).distinct(),
      Tables.documents(s, dir).filter(col("doc_id") % TombMod =!= TombResidue))
  }

  /** The erasure-request stand-in for the vacuum family (q216/q219/
    * q220): every id ≡ [[TombResidue]] (mod [[TombMod]]) is tombstoned
    * — ONE rule shared by the Scala queries and (interpolated) their
    * oracles, so the two sides can't drift. */
  val TombMod = 10
  val TombResidue = 3

  /** `<id> % TombMod <> TombResidue` — the oracle-side live predicate. */
  private def liveSql(table: String, idCol: String): String =
    s"(SELECT * FROM $table WHERE $idCol % $TombMod <> $TombResidue)"

  /** q216 oracle — the batch LSH ladder over the corpus with the
    * tombstoned docs REMOVED: what the index must look like after the
    * vacuum, as if the erased docs had never arrived. */
  val q216Sql: String =
    s"""WITH live AS ${liveSql("documents", "doc_id")},
       |${Dedup.verifiedPairsSqlCtes("live")}
       |SELECT doc_a, doc_b, jaccard FROM scored""".stripMargin

  /** q219: the tombstone vacuum on the ANN index family — q216's
    * protocol applied to the artifact where it costs the most (the
    * incremental ANN index rows CARRY the vectors, so un-vacuumed
    * erased embeddings are both a privacy and a storage liability).
    * Full corpus ingests through the q152 ladder; tombstoned vec_ids
    * vacuum from the (bucket_grp, batch_id)-partitioned index and the
    * pair log (either endpoint), residuals measured zero, and the
    * surviving pair census must equal the batch hyperplane self-join
    * over the live embeddings — exact for the same reason as q216:
    * bucket codes and cosines are per-vector/per-pair, so a live
    * pair's existence is corpus-independent. */
  def q219AnnVacuum(s: SparkSession, dir: String): DataFrame = {
    val work = streamedFrame(s,
      Tables.embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")),
      "vec_id bigint, v array<double>") { (emb, work) =>
      Streams.incrementalAnnNearDups(emb, s"$work/index", s"$work/pairs",
        s"$work/ckpt")
    }
    val tombs = Tables.embeddings(s, dir)
      .filter(col("vec_id") % TombMod === TombResidue).select(col("vec_id"))
    // independent artifacts: concurrent vacuums + one-action audit
    // (guide §2.6), same per-artifact protocol as the sequential calls
    Streams.vacuumTombstonedPar(s, Seq(
      (s"$work/index", Seq("vec_id"), Seq("bucket_grp", "batch_id")),
      (s"$work/pairs", Seq("vec_a", "vec_b"), Seq("batch_id"))), tombs)
    val residual = Streams.tombstoneResidualsMany(s, Seq(
      (s"$work/index", Seq("vec_id")),
      (s"$work/pairs", Seq("vec_a", "vec_b"))), tombs)
    require(residual == 0L,
      s"ANN vacuum left $residual tombstoned references — audit failed")
    s.read.parquet(s"$work/pairs")
      .select(col("bucket"), col("vec_a"), col("vec_b"), col("cos_sim"))
      .distinct()
  }

  /** q219 oracle — batch q31 over the live embeddings. */
  val q219Sql: String =
    Similarity.q31SqlFrom(liveSql("embeddings", "vec_id"))

  /** q220: the tombstone vacuum on the selection MONITOR's scored
    * manifest — the q178 monitor's landed state is doc-grain metadata
    * that outlives a purge exactly like an index does (the verdict's
    * right-to-be-forgotten list names it explicitly). The manifest
    * ingests as usual, tombstoned doc_ids vacuum from the batch_id
    * partitions, the residual audit measures zero, and the budget
    * snapshot over the vacuumed manifest must equal batch q169 over
    * the live corpus — INCLUDING the budget itself (B = pct of the
    * LIVE token mass: a correct vacuum shrinks the pot, not just the
    * candidate list). */
  def q220ManifestVacuum(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("doc_id", "source", "text"),
      "doc_id bigint, source string, text string") { (docs, work) =>
      Streams.incrementalBudgetSelection(docs, s"$work/scored", s"$work/ckpt")
    }
    val tombs = Tables.documents(s, dir)
      .filter(col("doc_id") % TombMod === TombResidue).select(col("doc_id"))
    Streams.vacuumTombstoned(s, s"$work/scored", tombs,
      Seq("doc_id"), Seq("batch_id"))
    val residual =
      Streams.tombstoneResiduals(s, s"$work/scored", tombs, Seq("doc_id"))
    require(residual == 0L,
      s"manifest vacuum left $residual tombstoned rows — audit failed")
    Streams.budgetSnapshot(s, s"$work/scored")
  }

  /** q220 oracle — batch q169 over the live corpus. */
  val q220Sql: String =
    Selection.q169SqlFrom(liveSql("documents", "doc_id"))

  /** q221: the RTBF LIFECYCLE composed in one row — erasure requests
    * arrive MID-CRAWL, which is how they arrive in production: half
    * the corpus ingests through the q107 ladder (tombstoned docs
    * included — they weren't erased yet), the erasure lands and the
    * vacuum rewrites the index + pair log (q216's protocol), and the
    * crawl RESUMES FROM THE SAME CHECKPOINT with the write-path gate
    * now filtering the tombstoned ids (q199's stream-static broadcast
    * anti-join) so they never land again. The property under test is
    * vacuum TRANSPARENCY to the resumed pairing (q162's
    * compaction-transparency, erasure edition): a live second-half
    * doc must still pair against live history through the vacuumed
    * index, and must NOT pair against vacuumed docs — so the final
    * log is indistinguishable from a crawl the erased docs never
    * entered. Halves split on doc_id % 4 (tombstoned ids ≡ 3 mod 10
    * are all odd, so a parity split would put every erasure in one
    * half and prove nothing — this split spreads them across both).
    * Oracle: q216Sql, the batch ladder over the live corpus. */
  def q221VacuumResume(s: SparkSession, dir: String): DataFrame = {
    val work = Streams.scratchDir("graft_q221")
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    def tombsOf(sess: SparkSession) = Tables.documents(sess, dir)
      .filter(col("doc_id") % TombMod === TombResidue).select(col("doc_id"))
    def run(gate: DataFrame => DataFrame): Unit =
      Streams.runToCompletion(Streams.incrementalLshDedup(
        gate(Streams.fileFeed(streamSession(s), "doc_id bigint, text string",
          s"$work/feed")), s"$work/index", s"$work/pairs", s"$work/ckpt"))
    Streams.orderedChunkFeed(docs.filter(col("doc_id") % 4 <= 1),
      s"$work/feed", 2, col("doc_id"))
    run(identity) // pre-erasure: tombstoned docs land like any other
    // independent artifacts: concurrent vacuums (guide §2.6), same
    // per-artifact protocol as the sequential calls
    Streams.vacuumTombstonedPar(s, Seq(
      (s"$work/index", Seq("doc_id"), Seq("band", "batch_id")),
      (s"$work/pairs", Seq("doc_a", "doc_b"), Seq("batch_id"))), tombsOf(s))
    Streams.orderedChunkFeed(docs.filter(col("doc_id") % 4 > 1),
      s"$work/feed", 2, col("doc_id"))
    // post-erasure: the write-path gate drops tombstoned arrivals
    // before they sign (q199's stream-static broadcast anti-join)
    run(st => st.join(broadcast(tombsOf(st.sparkSession))
        .withColumnRenamed("doc_id", "t_id"),
      col("doc_id") === col("t_id"), "left_anti"))
    val residual = Streams.tombstoneResidualsMany(s, Seq(
      (s"$work/index", Seq("doc_id")),
      (s"$work/pairs", Seq("doc_a", "doc_b"))), tombsOf(s))
    require(residual == 0L,
      s"mid-crawl vacuum left $residual tombstoned references")
    Dedup.jaccardVerify(
      s.read.parquet(s"$work/pairs")
        .select(col("doc_a"), col("doc_b")).distinct(),
      Tables.documents(s, dir).filter(col("doc_id") % TombMod =!= TombResidue))
  }

  /** Retention horizon for q222: hours kept live in the monitor log.
    * ONE constant shared by the vacuum predicate and the oracle. */
  val RetainHours = 168L // 7 days of a ~30-day corpus — real mass drops

  /** q222: AGE-based retention on a landed monitor log — the other
    * half of the round-12 verdict's retention item (the tombstone
    * family is right-to-be-forgotten; this is storage limitation: the
    * hourly-counts partials grow with ingest age even when nothing is
    * erased). The events table ingests through the q90-family hourly
    * monitor, [[Streams.retentionVacuum]] then expires every hour
    * older than [[RetainHours]] behind the corpus max (whole expired
    * batch partitions vanish; the straddling partition rewrites
    * through the staged swap), the expired audit measures ZERO
    * remaining old rows, and the re-summed census must equal the
    * batch hourly census over ONLY the retained horizon — exact
    * because the partials are keyed by hour, so dropping whole
    * expired hours drops exactly their events. Oracle: the batch
    * spelling with the same data-derived cutoff. */
  def q222RetentionVacuum(s: SparkSession, dir: String): DataFrame = {
    val outSchema = "hour_start bigint, event_type string, cnt bigint"
    val work = streamedEvents(s, dir, Seq("ts", "event_type"),
      "ts timestamp_ntz, event_type string") { (events, work) =>
      Streams.incrementalHourlyCounts(events, s"$work/hours", s"$work/ckpt")
    }
    val log = s.read.schema(StructType.fromDDL(
      outSchema + ", batch_id bigint")).parquet(s"$work/hours")
    val maxRow = log.agg(max(col("hour_start"))).head()
    if (maxRow.isNullAt(0))
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL(outSchema))
    val cutoff = maxRow.getLong(0) - (RetainHours - 1) * 3600L
    // keyed flavor: detection consults the zone-map sidecar the hourly
    // ingest maintains (per-partition min/max of hour_start) instead
    // of reading every row's retention key — O(partitions) metadata +
    // a verify read pruned to candidates, the tombstone discipline
    Streams.retentionVacuumKeyed(s, s"$work/hours",
      "hour_start", lit(cutoff), Seq("batch_id"))
    val retained = s.read.schema(StructType.fromDDL(
      outSchema + ", batch_id bigint")).parquet(s"$work/hours")
    val residual = retained.filter(col("hour_start") < cutoff).count()
    require(residual == 0L,
      s"retention left $residual expired hourly partials — audit failed")
    retained.groupBy(col("hour_start"), col("event_type"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** q222 oracle — the batch hourly census restricted to the same
    * data-derived retention horizon. */
  val q222Sql: String =
    s"""WITH h AS (
       |  SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) * 3600
       |           AS hour_start,
       |         event_type
       |  FROM events),
       |m AS (SELECT max(hour_start) AS mx FROM h)
       |SELECT hour_start, event_type, count(*) AS cnt
       |FROM h
       |WHERE hour_start >= (SELECT mx - ($RetainHours - 1) * 3600 FROM m)
       |GROUP BY 1, 2""".stripMargin

  /** The erased SUBJECTS of the keyed-state eviction family
    * (q223/q226/q227): every event user ≡ [[TombResidue]] mod
    * [[TombMod]] — the same one rule as the landed-artifact vacuums,
    * derived per-session so stream-static joins build on the stream's
    * own session. */
  private def evictionTombs(sess: SparkSession, dir: String): DataFrame =
    Tables.events(sess, dir)
      .select(col("user_id").cast("long").as("user_id")).distinct()
      .filter(col("user_id") % TombMod === TombResidue)

  /** [[evictionTombs]] materialized ONCE (localCheckpoint) — the
    * subjects feed the erase feed, the landed-log vacuum, the audit,
    * and (per stream run) every micro-batch of the write-path gate;
    * each consumer otherwise re-runs the corpus scan + distinct
    * (guide §1.2: the r15 tombPrep lesson, applied one level up). */
  private def evictionTombsOnce(sess: SparkSession, dir: String): DataFrame =
    evictionTombs(sess, dir).localCheckpoint(true)

  /** The write-path gate of the eviction family: ONE stream-static
    * broadcast anti-join whose condition exempts control rows
    * (`user_id = t_id AND NOT erase`) — a union of two stream filters
    * would register a second source and break checkpoint resume.
    * `tombs` must be the MATERIALIZED subject set (a stream-static
    * join re-executes its static side EVERY micro-batch — the
    * un-checkpointed spelling re-ran the corpus scan + distinct per
    * trigger, 4× per gated run). */
  private def evictionGate(stream: DataFrame, tombs: DataFrame): DataFrame =
    stream.join(broadcast(tombs.withColumnRenamed("user_id", "t_id")),
      col("user_id") === col("t_id") && !col("erase"), "left_anti")

  /** The eviction family's landed-log erasure (runs MID-lifecycle,
    * between the ungated and gated halves): vacuum the subjects' rows
    * from the batch_id-partitioned log. */
  private def evictionVacuum(s: SparkSession, tombs: DataFrame,
                             path: String): Unit =
    Streams.vacuumTombstoned(s, path, tombs,
      Seq("user_id"), Seq("batch_id"))

  /** The eviction family's measured-zero audit (runs at the END, after
    * the gated resume — q193's discipline). */
  private def evictionAudit(s: SparkSession, tombs: DataFrame, path: String,
                            what: String): Unit = {
    val residual = Streams.tombstoneResiduals(s, path,
      tombs, Seq("user_id"))
    require(residual == 0L,
      s"$what eviction left $residual landed subject rows — audit failed")
  }

  /** q223: RTBF for KEYED STREAMING STATE — the one hole verdict-r13
    * left in the governance loop: the vacuum family (q216/q219/q220)
    * erases every LANDED artifact, but an erased subject's rows can
    * still live inside a running query's CHECKPOINT state (an open
    * session here). The events table streams through the
    * `transformWithState` sessionizer on RocksDB in event-time halves
    * split at the corpus midpoint; mid-crawl, erasure CONTROL rows for
    * every tombstoned user (user_id ≡ [[TombResidue]] mod [[TombMod]])
    * ride the same keyed feed and
    * [[graft.streaming.StatefulSessions.TwsSessionizerCtl]] clears the
    * key's named ValueState AND deletes its live timer — the open
    * session never happened, it does not "close". The composed
    * lifecycle around the eviction is q221's: sessions that CLOSED
    * pre-erasure already landed, so the sessions log (batch_id
    * partitions + `_refs` sidecar) is tombstone-vacuumed; the crawl
    * resumes from the same checkpoint with the q199 write-path gate
    * dropping the subjects' later events (the operator itself keeps no
    * per-key tombstone memory — that would be unbounded state). The
    * residual audit measures zero landed references, and the census
    * must equal batch q17 over the LIVE users only — erased subjects
    * are GONE from state, log and output alike, not merely filtered.
    * (The mid-stream state-store audit — erased keys absent from the
    * checkpoint while live keys persist, via the statestore reader —
    * needs a paused stream, so it lives in StreamsSpec, where the
    * classic flatMapGroupsWithState twin is also diffed row-for-row.)
    * Oracle: q17Sql over the live predicate (the q216 pattern). */
  def q223StateEviction(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StatefulSessions
    import graft.streaming.StatefulSessions.CEvent
    import org.apache.spark.sql.streaming.OutputMode
    implicit val ce = org.apache.spark.sql.Encoders.product[CEvent]
    val work = Streams.scratchDir("graft_q223")
    val events = Tables.events(s, dir)
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp_ltz").as("ts"))
    val flushUser = -1L
    val outSchema =
      "user_id bigint, session_count bigint, max_session_events bigint"
    val bounds = events.agg(min(unix_micros(col("ts"))),
      max(unix_micros(col("ts")))).head()
    if (bounds.isNullAt(0))
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL(outSchema))
    // event-time midpoint: the erasure arrives mid-crawl, with every
    // tombstoned user active on both sides of it
    val cutUs = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val tombs = evictionTombsOnce(s, dir)
    def run(gated: Boolean): Unit = {
      val stream = Streams.fileFeed(
        rocksSession(s), // transformWithState: multi-CF state
        "user_id bigint, ts timestamp_ltz, erase boolean", s"$work/feed")
      // the write-path gate (q199): drop the erased subjects' DATA
      // rows post-erasure; control rows pass — [[evictionGate]]
      val fed = if (!gated) stream else evictionGate(stream, tombs)
      qprogress(s"q223 run gated=$gated", Streams.runToCompletion(
        Streams.appendParquetSink(
          StatefulSessions.sessionizeCtlTws(fed.as[CEvent]).toDF(),
          s"$work/sessions", s"$work/ckpt", refCols = Seq("user_id"))))
    }
    // one chunk per half: the cross-RESTART state carry (plus the
    // erase batch between) is what this row tests; multi-batch folding
    // within a run is q113/q214's covered ground — extra micro-batches
    // here only add RocksDB commit rounds
    Streams.phase("q223 feed half1") {
      Streams.orderedChunkFeed(
        events.filter(unix_micros(col("ts")) <= cutUs)
          .withColumn("erase", lit(false)),
        s"$work/feed", 1, col("ts"))
    }
    Streams.phase("q223 run1")(run(gated = false)) // pre-erasure
    // landed half of the erasure: sessions that closed pre-request
    Streams.phase("q223 vacuum")(evictionVacuum(s, tombs, s"$work/sessions"))
    // the erasure requests themselves, one control row per subject,
    // stamped just past the half-1 horizon so the watermark admits them
    val eraseTs = new java.sql.Timestamp(cutUs / 1000 + 1)
    Streams.phase("q223 feed erase+half2") {
      Streams.orderedChunkFeed(
        tombs
          .withColumn("ts", lit(eraseTs).cast("timestamp_ltz"))
          .withColumn("erase", lit(true)),
        s"$work/feed", 1, col("ts"))
      Streams.orderedChunkFeed(
        events.filter(unix_micros(col("ts")) > cutUs)
          .withColumn("erase", lit(false)),
        s"$work/feed", 1, col("ts"))
    }
    val far = new java.sql.Timestamp(bounds.getLong(1) / 1000 +
      48L * 3600 * 1000)
    Streams.phase("q223 feed sentinels") {
      Streams.orderedChunkFeed(
        s.createDataset(Seq(far, new java.sql.Timestamp(far.getTime + 60000))
          .map(t => CEvent(flushUser, t, erase = false)))(ce).toDF(),
        s"$work/feed", 1, col("ts"))
    }
    Streams.phase("q223 run2")(run(gated = true)) // erase, resume, flushes
    Streams.phase("q223 audit")(evictionAudit(s, tombs, s"$work/sessions", "session"))
    s.read.parquet(s"$work/sessions")
      .filter(col("user_id") =!= flushUser)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("session_count"),
        max(col("event_count")).as("max_session_events"))
  }

  /** q223 oracle — batch q17 over the live users only. */
  val q223Sql: String =
    Events.q17SqlFrom(liveSql("events", "user_id"))

  /** q224: READ-SIDE SERVING over the maintained ANN index — the
    * payoff of the whole index lifecycle. The embeddings ingest
    * through the q152 ladder, the index is COMPACTED (q163's fold) and
    * then VACUUMED (q219's erasure, residual-audited zero), and a
    * query-vector batch — the first five LIVE vec_ids, the request a
    * retrieval service would carry — runs q51's multiprobe top-K
    * against the LANDED index: probe buckets become literal
    * PartitionFilters on the bucket-group partitions
    * ([[graft.streaming.Streams.annServeRead]], plan spec-asserted),
    * candidates verify with the native cosine, deterministic tie-break
    * (cos desc, neighbor asc). Oracle: the SAME multiprobe search over
    * the live embeddings (q51Sql parameterized, the q216 transparency
    * pattern) — green means land → fold → erase → serve returns
    * exactly what a fresh search over the live corpus returns, i.e.
    * the maintenance story is invisible to the reader. (LSH-served
    * top-K is not brute-force top-K in general — recall vs the exact
    * q29 scan is measured separately by q129; the exactness a
    * maintained index CAN promise, and the one that gates this row, is
    * serve ≡ fresh-search.) */
  def q224IndexServe(s: SparkSession, dir: String): DataFrame = {
    val work = Streams.phase("q224 ingest") {
      streamedFrame(s,
        Tables.embeddings(s, dir).select(col("vec_id"),
          col("embedding").cast("array<double>").as("v")),
        "vec_id bigint, v array<double>") { (emb, work) =>
        Streams.incrementalAnnNearDups(emb, s"$work/index", s"$work/pairs",
          s"$work/ckpt")
      }
    }
    // the full maintenance cycle lands BEFORE the read: fold the batch
    // partitions, then erase the tombstoned subjects
    Streams.phase("q224 compact") {
      Streams.compactLshIndex(s, s"$work/index", bandCols = Seq("bucket_grp"))
    }
    val tombs = Tables.embeddings(s, dir)
      .filter(col("vec_id") % TombMod === TombResidue).select(col("vec_id"))
    Streams.phase("q224 vacuum") {
      Streams.vacuumTombstoned(s, s"$work/index", tombs,
        Seq("vec_id"), Seq("bucket_grp", "batch_id"))
    }
    val residual = Streams.phase("q224 audit") {
      Streams.tombstoneResiduals(s, s"$work/index", tombs, Seq("vec_id"))
    }
    require(residual == 0L,
      s"serving index still holds $residual erased vectors — audit failed")
    val queries = Tables.embeddings(s, dir)
      .filter(col("vec_id") < 6 && col("vec_id") % TombMod =!= TombResidue)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      .withColumn("qb", Similarity.bucketCode(col("qv")))
    Streams.annServeTopK(s, s"$work/index", queries, Similarity.AnnTopK)
  }

  /** q224 oracle — the multiprobe search over the live embeddings
    * with the same query cut. */
  val q224Sql: String = Similarity.q51SqlFrom(
    liveSql("embeddings", "vec_id"),
    s"vec_id < 6 AND vec_id % $TombMod <> $TombResidue")

  /** Request cut for q225's admission batch: live docs below this id.
    * ONE constant shared by the Scala query and the oracle; chosen so
    * the request set carries real near-dup mass at every driver SF
    * (11 / 4 / 16 live pairs touch it at sf0.001/0.01/0.1). */
  val ServeReqCut = 50

  /** q225: dedup-at-ADMISSION serving over the maintained LSH index —
    * q224's read-payoff story on the MinHash family: "is this document
    * a near-dup of something already in the corpus?" answered at query
    * time. The corpus ingests through the q107 ladder, the signature
    * index COMPACTS (q162's fold) and VACUUMS (q216's erasure,
    * residual-audited), then an admission batch — the live docs below
    * [[ServeReqCut]] — probes the LANDED index:
    * [[graft.streaming.Streams.lshServePairs]] reads only the touched
    * band partitions (literal PartitionFilters) with the request's
    * exact signatures pushed into the scan, candidates verify with the
    * true Jaccard against the live corpus (the ladder's one
    * verification bar, composed as everywhere). Oracle: the batch
    * verified-pairs census over the live corpus RESTRICTED to pairs
    * touching the request set — serve ≡ fresh-search, the q216/q224
    * transparency pattern (exact for the same per-doc-signature law
    * that makes q216's oracle exact). */
  def q225DedupServe(s: SparkSession, dir: String): DataFrame = {
    val work = Streams.phase("q225 ingest") {
      streamed(s, dir, Seq("doc_id", "text"),
        "doc_id bigint, text string") { (docs, work) =>
        Streams.incrementalLshDedup(docs, s"$work/index", s"$work/pairs",
          s"$work/ckpt")
      }
    }
    Streams.phase("q225 compact")(Streams.compactLshIndex(s, s"$work/index"))
    val tombs = Tables.documents(s, dir)
      .filter(col("doc_id") % TombMod === TombResidue).select(col("doc_id"))
    Streams.phase("q225 vacuum") {
      Streams.vacuumTombstoned(s, s"$work/index", tombs,
        Seq("doc_id"), Seq("band", "batch_id"))
    }
    val residual = Streams.phase("q225 audit") {
      Streams.tombstoneResiduals(s, s"$work/index", tombs, Seq("doc_id"))
    }
    require(residual == 0L,
      s"serving index still holds $residual erased signatures — audit failed")
    val liveDocs = Tables.documents(s, dir)
      .filter(col("doc_id") % TombMod =!= TombResidue)
      .select(col("doc_id"), col("text"))
    val request = liveDocs.filter(col("doc_id") < ServeReqCut)
    Streams.phase("q225 serve") {
      Dedup.jaccardVerify(
        Streams.lshServePairs(s, s"$work/index",
          Dedup.bandedSignatures(request)),
        liveDocs)
    }
  }

  /** q225 oracle — the batch verified-pairs census over the live
    * corpus, restricted to pairs touching the request set. */
  val q225Sql: String =
    s"""WITH live AS ${liveSql("documents", "doc_id")},
       |${Dedup.verifiedPairsSqlCtes("live")}
       |SELECT doc_a, doc_b, jaccard FROM scored
       |WHERE doc_a < $ServeReqCut OR doc_b < $ServeReqCut""".stripMargin

  /** q226: RTBF eviction on the SCD2 DIMENSION machine — the second
    * named case in verdict-r13's keyed-state list ("an open SCD2
    * run"), q223's lifecycle on the machine whose state is warehouse
    * dimension history. Events stream through the `transformWithState`
    * SCD2 builder on RocksDB in event-time halves; mid-crawl, erasure
    * control rows clear each subject's open RUN — named ValueState
    * cleared, the armed flush timer deleted via `listTimers` (robust
    * to the quiesce clamp: the armed value needn't be recomputable) —
    * so the run neither closes nor flushes as "open": it never
    * happened. Landed intervals of the subjects vacuum from the
    * batch_id-partitioned log (+ `_refs` sidecar); the crawl resumes
    * from the same checkpoint behind the write-path gate; the live
    * users' intervals — including their OPEN runs flushed at the
    * quiesce point — must equal batch q194 over live events only.
    * Oracle: q194Sql over the live predicate. */
  def q226Scd2Eviction(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StatefulScd2
    import graft.streaming.StatefulScd2.CSEvent
    import org.apache.spark.sql.streaming.OutputMode
    implicit val ce = org.apache.spark.sql.Encoders.product[CSEvent]
    val work = Streams.scratchDir("graft_q226")
    val events = Tables.events(s, dir)
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp_ltz").as("ts"),
        col("event_type"), col("event_id"))
    val flushUser = -1L
    val outSchema = "event_type string, intervals bigint, " +
      "closed bigint, dur_us_sum bigint, dur_us_max bigint"
    val bounds = events.agg(min(unix_micros(col("ts"))),
      max(unix_micros(col("ts")))).head()
    if (bounds.isNullAt(0))
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL(outSchema))
    val cutUs = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val flushUs = bounds.getLong(1) + 3600L * 1000000L
    val tombs = evictionTombsOnce(s, dir)
    def run(gated: Boolean): Unit = {
      val stream = Streams.fileFeed(
        rocksSession(s), // transformWithState: multi-CF state
        StatefulTransitions.FeedDdl + ", erase boolean", s"$work/feed")
      val fed = if (!gated) stream else evictionGate(stream, tombs)
      Streams.runToCompletion(Streams.appendParquetSink(
        StatefulScd2.intervalsCtlTws(fed.as[CSEvent], flushUs).toDF(),
        s"$work/intervals", s"$work/ckpt", refCols = Seq("user_id")))
    }
    Streams.phase("q226 feed half1") {
      Streams.orderedChunkFeed(
        events.filter(unix_micros(col("ts")) <= cutUs)
          .withColumn("erase", lit(false)),
        s"$work/feed", 1, col("ts"))
    }
    Streams.phase("q226 run1")(run(gated = false))
    Streams.phase("q226 vacuum")(evictionVacuum(s, tombs, s"$work/intervals"))
    val eraseTs = new java.sql.Timestamp(cutUs / 1000 + 1)
    Streams.phase("q226 feed erase+half2+flush") {
      Streams.orderedChunkFeed(
        tombs
          .withColumn("ts", lit(eraseTs).cast("timestamp_ltz"))
          .withColumn("event_type", lit("__erase"))
          .withColumn("event_id", lit(-1L))
          .withColumn("erase", lit(true)),
        s"$work/feed", 1, col("ts"))
      Streams.orderedChunkFeed(
        events.filter(unix_micros(col("ts")) > cutUs)
          .withColumn("erase", lit(false)),
        s"$work/feed", 1, col("ts"))
      val far = new java.sql.Timestamp(bounds.getLong(1) / 1000 +
        48L * 3600 * 1000)
      Streams.orderedChunkFeed(
        s.createDataset(Seq(far, new java.sql.Timestamp(far.getTime + 60000))
          .map(t => CSEvent(flushUser, t, "__flush", -1L, erase = false)))(ce)
          .toDF(),
        s"$work/feed", 1, col("ts"))
    }
    Streams.phase("q226 run2")(run(gated = true))
    Streams.phase("q226 audit")(evictionAudit(s, tombs, s"$work/intervals", "SCD2"))
    s.read.parquet(s"$work/intervals")
      .filter(col("user_id") =!= flushUser)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("intervals"),
        sum(when(col("to_us").isNull, 0L).otherwise(1L)).as("closed"),
        sum(col("to_us") - col("from_us")).as("dur_us_sum"),
        max(col("to_us") - col("from_us")).as("dur_us_max"))
  }

  /** q226 oracle — batch q194 over the live users only. */
  val q226Sql: String =
    graft.queries.Temporal.q194SqlFrom(liveSql("events", "user_id"))

  /** q227: RTBF eviction on the TRANSITION machine — the third and
    * last keyed-state case in verdict-r13's list ("per-user monitor
    * state": the transition extractor's carry IS the per-user monitor
    * the verdict names; the aggregate monitors key by
    * source/type/hour, never by user — no per-subject state exists to
    * erase there, by design). Same composed lifecycle on the
    * `transformWithState` path: erase control rows clear the subject's
    * carry (no timers exist on this machine — clear() is the whole
    * eviction; the pending hand-off into the subject's next event dies
    * with it), the landed per-user transition log vacuums, the crawl
    * resumes behind the gate. No sentinels: transitions need no flush
    * — the machine emits on arrival, never on watermark. Census: the
    * q139 matrix with conditional ppm over the live rows; oracle =
    * q139Sql over the live users (the denominators re-normalize to the
    * live mass — a vacuum that only filtered the numerators would
    * hash-fail). */
  def q227TransitionsEviction(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StatefulTransitions
    import graft.streaming.StatefulTransitions.CTEvent
    import org.apache.spark.sql.streaming.OutputMode
    implicit val ce = org.apache.spark.sql.Encoders.product[CTEvent]
    val work = Streams.scratchDir("graft_q227")
    val events = Tables.events(s, dir)
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp_ltz").as("ts"),
        col("event_type"), col("event_id"))
    val outSchema = "from_type string, to_type string, " +
      "transitions bigint, prob_ppm bigint"
    val bounds = events.agg(min(unix_micros(col("ts"))),
      max(unix_micros(col("ts")))).head()
    if (bounds.isNullAt(0))
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL(outSchema))
    val cutUs = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val tombs = evictionTombsOnce(s, dir)
    def run(gated: Boolean): Unit = {
      val stream = Streams.fileFeed(
        rocksSession(s), // transformWithState: multi-CF state
        StatefulTransitions.FeedDdl + ", erase boolean", s"$work/feed")
      val fed = if (!gated) stream else evictionGate(stream, tombs)
      Streams.runToCompletion(Streams.appendParquetSink(
        StatefulTransitions.transitionsCtlTws(fed.as[CTEvent]).toDF(),
        s"$work/trans", s"$work/ckpt", refCols = Seq("user_id")))
    }
    Streams.phase("q227 feed half1") {
      Streams.orderedChunkFeed(
        events.filter(unix_micros(col("ts")) <= cutUs)
          .withColumn("erase", lit(false)),
        s"$work/feed", 1, col("ts"))
    }
    Streams.phase("q227 run1")(run(gated = false))
    Streams.phase("q227 vacuum")(evictionVacuum(s, tombs, s"$work/trans"))
    val eraseTs = new java.sql.Timestamp(cutUs / 1000 + 1)
    Streams.phase("q227 feed erase+half2") {
      Streams.orderedChunkFeed(
        tombs
          .withColumn("ts", lit(eraseTs).cast("timestamp_ltz"))
          .withColumn("event_type", lit("__erase"))
          .withColumn("event_id", lit(-1L))
          .withColumn("erase", lit(true)),
        s"$work/feed", 1, col("ts"))
      Streams.orderedChunkFeed(
        events.filter(unix_micros(col("ts")) > cutUs)
          .withColumn("erase", lit(false)),
        s"$work/feed", 1, col("ts"))
    }
    Streams.phase("q227 run2")(run(gated = true))
    Streams.phase("q227 audit")(evictionAudit(s, tombs, s"$work/trans", "transition"))
    matrixPpm(s.read.parquet(s"$work/trans")
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("transitions")))
  }

  /** q227 oracle — batch q139 over the live users only. */
  val q227Sql: String =
    Events.q139SqlFrom(liveSql("events", "user_id"))

  /** q228: SCHEMA EVOLUTION on a landed partial log — the lake
    * concern every long-lived monitor hits: the pipeline UPGRADES
    * mid-life (here the hourly monitor grows a value_cents column)
    * and the landed log must stay one readable, census-exact artifact
    * across the version boundary. The events stream in event-time
    * halves through [[graft.streaming.Streams.incrementalPartials]];
    * run 1 lands v1 partials (hour, type, cnt), run 2 RESUMES THE SAME
    * CHECKPOINT with the upgraded fold (the fold lives inside
    * foreachBatch, so the streaming plan — and the checkpoint's offset
    * contract — is untouched by the upgrade) and lands v2 partials
    * with the extra column. The snapshot reads the mixed-schema log
    * with mergeSchema: v1 rows carry NULL value_cents, the census sums
    * cnt across BOTH versions and cents over the v2 mass only — an
    * hour straddling the upgrade reports its full event count and
    * exactly its post-upgrade cents. Oracle: the batch census with the
    * same data-derived upgrade point (cents = NULL for fully-pre-
    * upgrade hours — the CASE-without-ELSE/null-sum law on both
    * sides). */
  def q228SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val work = Streams.scratchDir("graft_q228")
    val events = Tables.events(s, dir)
      .select(col("ts").cast("timestamp_ltz").as("ts"),
        col("event_type"), col("value"))
    val outSchema = "hour_start bigint, event_type string, " +
      "events bigint, value_cents bigint"
    val bounds = events.agg(min(unix_micros(col("ts"))),
      max(unix_micros(col("ts")))).head()
    if (bounds.isNullAt(0))
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL(outSchema))
    val cutUs = (bounds.getLong(0) + bounds.getLong(1)) / 2
    def run(fold: DataFrame => DataFrame): Unit =
      Streams.runToCompletion(Streams.incrementalPartials(
        Streams.fileFeed(streamSession(s),
          "ts timestamp_ltz, event_type string, value double", s"$work/feed"),
        s"$work/hours", s"$work/ckpt")(fold))
    Streams.orderedChunkFeed(
      events.filter(unix_micros(col("ts")) <= cutUs), s"$work/feed", 2,
      col("ts"))
    run(Events.hourlyCounts) // pipeline v1
    Streams.orderedChunkFeed(
      events.filter(unix_micros(col("ts")) > cutUs), s"$work/feed", 2,
      col("ts"))
    run(Events.hourlyCountsWithValue) // the upgrade, same checkpoint
    // the merged read IS the point: without mergeSchema a snapshot
    // could infer the v1 schema and silently drop the new column
    s.read.option("mergeSchema", "true").parquet(s"$work/hours")
      .groupBy(col("hour_start"), col("event_type"))
      .agg(sum(col("cnt")).as("events"),
        sum(col("value_cents")).as("value_cents"))
  }

  /** q228 oracle — the batch census with the same data-derived
    * upgrade point; cents NULL for fully-pre-upgrade hours. */
  val q228Sql: String =
    """WITH h AS (
      |  SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) * 3600
      |           AS hour_start,
      |         event_type,
      |         CAST(floor(value * 100) AS BIGINT) AS cents,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |c AS (SELECT (min(us) + max(us)) // 2 AS cut FROM h)
      |SELECT hour_start, event_type,
      |       CAST(count(*) AS BIGINT) AS events,
      |       CAST(sum(CASE WHEN us > (SELECT cut FROM c) THEN cents END)
      |            AS BIGINT) AS value_cents
      |FROM h GROUP BY 1, 2""".stripMargin

  /** q230: dedup-at-admission as the WRITE-PATH gate (verdict-r14
    * "Next round" #3) — q225's serve answered "is this a near-dup?"
    * read-only; here the crawler REJECTS at the door. The corpus
    * streams in doc_id order ([[Streams.orderedChunkFeed]] — the
    * pinned arrival-order-equals-id-order contract), each micro-batch
    * probes the landed signature index (the ladder's pruned
    * distributed history join — see [[Streams.gatedLshIngest]]) and
    * routes: colliders of a smaller-id doc quarantine to the reasons
    * log with their earliest collider (dup_of), the rest land; EVERY
    * presented signature registers, which is what makes collision
    * chains batch-boundary-independent (see
    * [[Streams.gatedLshIngest]]'s law note). Output: the doc-grain
    * admission census — (doc_id, status, dup_of) — read back from the
    * two landed logs. Oracle: the batch spelling of the same law
    * (quarantined iff LSH-collides with ANY smaller doc_id; dup_of =
    * min collider), exact INCLUDING chains because the gate registers
    * quarantined signatures too. */
  def q230AdmissionGate(s: SparkSession, dir: String): DataFrame = {
    val work = Streams.scratchDir("graft_q230")
    Streams.orderedChunkFeed(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      s"$work/feed", 4, col("doc_id"))
    val stream = Streams.fileFeed(streamSession(s),
      "doc_id bigint, text string", s"$work/feed")
    Streams.runToCompletion(Streams.gatedLshIngest(stream, s"$work/corpus",
      s"$work/quarantine", s"$work/index", s"$work/pairs", s"$work/ckpt"))
    val admitted = s.read.schema(StructType.fromDDL(
        "doc_id bigint, text string, batch_id bigint"))
      .parquet(s"$work/corpus")
      .select(col("doc_id"), lit("admitted").as("status"),
        lit(null).cast("bigint").as("dup_of"))
    val quarantined = s.read.schema(StructType.fromDDL(
        "doc_id bigint, dup_of bigint, batch_id bigint"))
      .parquet(s"$work/quarantine")
      .select(col("doc_id"), lit("quarantined").as("status"),
        col("dup_of"))
    admitted.unionByName(quarantined)
  }

  /** q230 oracle — the batch admission law: the `pairs` CTE is the
    * exact candidate set (q44's spelling), a doc quarantines iff it is
    * the LATER member of any pair, dup_of = its earliest collider. */
  val q230Sql: String =
    s"""WITH ${Dedup.verifiedPairsSqlCtes("documents")},
       |coll AS (SELECT doc_b AS doc_id, min(doc_a) AS dup_of
       |         FROM pairs GROUP BY 1)
       |SELECT d.doc_id,
       |       CASE WHEN c.doc_id IS NULL THEN 'admitted'
       |            ELSE 'quarantined' END AS status,
       |       c.dup_of AS dup_of
       |FROM documents d LEFT JOIN coll c ON d.doc_id = c.doc_id""".stripMargin

  /** The q231 serve-request sample: ONE rule shared by the Scala row
    * and (interpolated) its oracle. */
  val ServeReqMod = 20
  val ServeReqResidue = 1

  /** q231: INDEX GEOMETRY MIGRATION, reindex-while-serving (verdict-
    * r14 "Next round" #4) — q228 evolved a log's columns; the harder
    * lake event is the signature index changing its s-curve point
    * (band count × rows per band). The corpus streams into a v1 build
    * (b=4, r=2 — the q26 geometry) under `build=1`, a cutover
    * publishes it, and serving begins. Then the SAME corpus streams
    * into a v2 build (b=2, r=4 — the precision upgrade: candidates at
    * low Jaccard collapse) under `build=2` while v1 KEEPS SERVING —
    * asserted in-row: the mid-migration serve equals the fresh v1
    * search exactly (the building v2 is invisible: the manifest
    * references only build=1, and [[Streams.lshServeVersioned]]
    * refuses any snapshot referencing two builds, so v1/v2 rows can
    * never mix). One atomic [[Streams.reindexCutover]] then flips the
    * snapshot; the returned (oracle-checked) result is the post-
    * cutover serve, which must equal the fresh v2 search — one
    * manifest resolution pins file set AND geometry, so the request is
    * signed with exactly the banding the snapshot carries. */
  def q231ReindexServing(s: SparkSession, dir: String): DataFrame = {
    val work = Streams.scratchDir("graft_q231")
    val root = s"$work/index"
    val corpus = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val req = corpus.filter(col("doc_id") % ServeReqMod === ServeReqResidue)
    def build(id: Int, bands: Int, rows: Int): Unit = {
      Streams.orderedChunkFeed(corpus, s"$work/feed$id", 3, col("doc_id"))
      val stream = Streams.fileFeed(streamSession(s),
        "doc_id bigint, text string", s"$work/feed$id")
      Streams.runToCompletion(Streams.incrementalIndexBuild(stream, root, id,
        bands, rows, s"$work/ckpt$id"))
    }
    // the fresh-search law at a given geometry, restricted to the
    // request sample (either endpoint) — the serve must equal this.
    // Returns an EAGERLY materialized frame (localCheckpoint): the
    // corpus signatures feed both sides of the self-join, and with the
    // broadcast the planner picks at this size the unpersisted
    // spelling ran the minhash sign over the corpus TWICE (no common
    // exchange for ReuseExchange to dedupe — the q44 lesson); the
    // persist is released before returning, so nothing leaks.
    def fresh(bands: Int, rows: Int): DataFrame = {
      val sigs = Dedup.bandedSignaturesGeom(corpus, bands, rows).persist()
      try {
        sigs.as("a").join(sigs.as("b"),
            col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .filter(col("doc_a") % ServeReqMod === ServeReqResidue ||
            col("doc_b") % ServeReqMod === ServeReqResidue)
          .distinct()
          .localCheckpoint(true)
      } finally sigs.unpersist()
    }
    def assertSame(label: String, a0: DataFrame, b: DataFrame): Unit = {
      // materialize the serve side ONCE (it feeds two exceptAll legs —
      // the un-checkpointed spelling recomputed it twice); `b` arrives
      // already materialized by the caller (shared by both asserts);
      // then both legs in one action
      val a = a0.localCheckpoint(true)
      val diff = a.exceptAll(b).select(lit(1L).as("__one"))
        .unionByName(b.exceptAll(a).select(lit(1L).as("__one"))).count()
      require(diff == 0L, s"$label: serve and fresh search differ by $diff")
    }
    Streams.phase("q231 build v1")(build(1, 4, 2))
    Streams.reindexCutover(s, root, 1)
    // the fresh v1 search feeds BOTH asserts (pre- and mid-migration):
    // materialized once inside fresh() — the un-shared spelling re-ran
    // the full corpus sign + self-join + distinct a second time
    // (guide §1.2)
    val freshV1 = Streams.phase("q231 fresh v1")(fresh(4, 2))
    Streams.phase("q231 assert pre") {
      assertSame("pre-migration (v1)",
        Streams.lshServeVersioned(s, root, req), freshV1)
    }
    Streams.phase("q231 build v2")(build(2, 2, 4)) // v2 streams in while v1 serves
    Streams.phase("q231 assert mid") {
      assertSame("mid-migration (still v1)",
        Streams.lshServeVersioned(s, root, req), freshV1)
    }
    Streams.reindexCutover(s, root, 2)
    Streams.lshServeVersioned(s, root, req)
  }

  /** q231 oracle — the fresh v2-geometry search over the corpus,
    * restricted to the request sample. */
  val q231Sql: String =
    s"""WITH ${Dedup.candidatePairsSqlCtesGeom("documents", 2, 4)}
       |SELECT doc_a, doc_b FROM pairs
       |WHERE doc_a % $ServeReqMod = $ServeReqResidue
       |   OR doc_b % $ServeReqMod = $ServeReqResidue""".stripMargin

  /** q229: the q216 erasure lifecycle through the SNAPSHOT-MANIFEST
    * layer — the atomic-commit / reader-isolation story (verdict-r14
    * "Next round" #1) as an oracle row, not just a spec. The corpus
    * ingests through the q107 ladder exactly as q216; then both
    * landed artifacts get a manifest ([[Manifests.enableFromListing]])
    * and the erasure runs as ONE [[Streams.vacuumTombstonedGroup]]:
    * index and pair log stage fresh files next to the old and flip in
    * a single intent-guarded group publish — a crash between the two
    * artifacts can no longer leave them mutually inconsistent, and a
    * reader that resolved its snapshot before the erasure keeps
    * reading the COMPLETE pre-erasure census while the vacuum stages,
    * commits, and even after (physical cleanup is deferred) — asserted
    * in-row: the pre-resolved pair reader re-counts its full census
    * AFTER the group publish. Residuals measured zero through the new
    * snapshot. Oracle: q216Sql — the vacuumed snapshot must be
    * indistinguishable from an index the erased docs never entered,
    * same law as q216; green here means the manifest path changes the
    * COMMIT protocol, not the answer. */
  def q229ManifestLifecycle(s: SparkSession, dir: String): DataFrame = {
    val work = streamed(s, dir, Seq("doc_id", "text"),
      "doc_id bigint, text string") { (docs, work) =>
      Streams.incrementalLshDedup(docs, s"$work/index", s"$work/pairs",
        s"$work/ckpt")
    }
    def hp(p: String) = new org.apache.hadoop.fs.Path(p)
    val fs = hp(work).getFileSystem(s.sparkContext.hadoopConfiguration)
    Manifests.enableFromListing(fs, hp(s"$work/index"))
    Manifests.enableFromListing(fs, hp(s"$work/pairs"))
    // the concurrent reader: resolves its snapshot BEFORE the erasure
    val preReader = Manifests.read(s, s"$work/pairs")
      .select(col("doc_a"), col("doc_b")).distinct()
    val preCount = preReader.count()
    val tombs = Tables.documents(s, dir)
      .filter(col("doc_id") % TombMod === TombResidue).select(col("doc_id"))
    Streams.vacuumTombstonedGroup(s, Seq(
      (s"$work/index", Seq("doc_id"), Seq("band", "batch_id")),
      (s"$work/pairs", Seq("doc_a", "doc_b"), Seq("batch_id"))), tombs)
    val post = preReader.count()
    require(post == preCount,
      s"snapshot isolation broken: pre-vacuum reader saw $post of " +
        s"$preCount pairs after the group publish")
    val residual = Streams.tombstoneResidualsMany(s, Seq(
      (s"$work/index", Seq("doc_id")),
      (s"$work/pairs", Seq("doc_a", "doc_b"))), tombs)
    require(residual == 0L,
      s"manifest vacuum left $residual tombstoned references — audit failed")
    Dedup.jaccardVerify(
      Manifests.read(s, s"$work/pairs")
        .select(col("doc_a"), col("doc_b")).distinct(),
      Tables.documents(s, dir).filter(col("doc_id") % TombMod =!= TombResidue))
  }
}
