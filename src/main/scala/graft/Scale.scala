package graft

import graft.functions.PqFunctions
import graft.queries.{Bpe, Dedup, Events, MultimodalQ, PipelineQ, Selection, Similarity, Stats, StreamingQ, Temporal, Text}
import graft.streaming.Streams
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The replicate-R scale harness: `graft.Scale <R> [law...]` (R
  * defaults to 10; SPARK_GRAFT_SF_DIR, default sf0.1).
  *
  * Every input is the sf dir's own tables copied R× into a scratch dir
  * ([[Corpus]]): key columns offset into disjoint ranges per replica,
  * feed names suffixed `_<rep>`, so no download is needed and the
  * answer at R× follows from the answer at 1× by a scaling law. Each
  * [[Law]] runs its row once at 1× — the untimed warmup (classes +
  * codegen) and the reference — then once, timed, at R×, and checks
  * (1× rows, R× rows, R). Laws over replicated feeds mostly share two
  * checks: [[feedsEqual]] (a replica feed reproduces its base feed) and
  * [[cellsScale]] (keyed cells scale ×R with the listed columns
  * invariant). The streaming laws replay real micro-batched ingests,
  * so they are the R-scaled check of the exactly-once ingest contract.
  *
  * Prints one JSON line with a `<stage>_sec` key per timed stage: every
  * law's R× run, plus the stages a law or corpus times itself (the
  * streaming ingest, the ANN index build, the vacuum rewrite).
  * ScaleLawSpec runs every law at R=3 on sf0.001.
  */
object Scale {
  def main(args: Array[String]): Unit = {
    val r = args.headOption.fold(10)(_.toInt)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val picked = select(args.drop(1).toSeq)
    val spark = LocalSession.build()
    val h = new Harness(spark, sfDir, r)
    try picked.foreach(h.run) finally h.close()
    println(h.summary)
    spark.stop()
  }

  /** The laws named (all when none are); an unknown name fails. */
  def select(names: Seq[String]): Seq[Law] = {
    val unknown = names.filterNot(laws.map(_.name).contains)
    require(unknown.isEmpty, s"unknown law(s): ${unknown.mkString(", ")}")
    if (names.isEmpty) laws else laws.filter(l => names.contains(l.name))
  }

  /** What rows and checks see: the session, the 1× sf dir, R, the R×
    * dir of the law's corpus, and the harness's one stage timer (it
    * records only during R× work). */
  final class Ctx private[Scale] (val spark: SparkSession, val base: String,
      val r: Int, val scaled: String,
      secs: Option[mutable.LinkedHashMap[String, Double]]) {
    def time[A](stage: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val a = f
      secs.foreach(_(stage) = (System.nanoTime() - t0) / 1e9)
      a
    }
  }

  type Query = (Ctx, String) => DataFrame
  type Check = (Ctx, Array[Row], Array[Row]) => Unit

  /** A replicated input. `write(ctx, dir, r)` fills `dir` with it at
    * `r`. Laws compare against the sf dir itself, except with
    * `ownBase`, where the 1× side is also written (landed state has no
    * sf-dir twin). `confs` hold while the corpus's laws run. */
  final class Corpus(val name: String, val write: (Ctx, String, Int) => Unit,
                     val ownBase: Boolean = false,
                     val confs: Map[String, String] = Map.empty)

  /** One scaling law: its row at a dir, and the check of (1× rows, R×
    * rows) at R. */
  final case class Law(name: String, corpus: Corpus, row: Query,
                       check: Check = (_, _, _) => ())

  /** Runs laws against corpora it writes once each, outside every
    * law's scratch scope; `close` deletes them. */
  final class Harness(spark: SparkSession, base: String, r: Int)
      extends AutoCloseable {
    private val secs = mutable.LinkedHashMap[String, Double]()
    private val root = Streams.scratchDir("graft_scale")
    private val dirs = mutable.Map[String, (String, String)]()
    private val firstRows = mutable.Map[String, Row]()

    private def dirsOf(c: Corpus): (String, String) =
      dirs.getOrElseUpdate(c.name, {
        val many = s"$root/${c.name}_r$r"
        // the 1× side first: it is also the warmup of the R× write
        val one =
          if (!c.ownBase) base
          else {
            val d = s"$root/${c.name}_r1"
            c.write(new Ctx(spark, base, r, many, None), d, 1)
            d
          }
        c.write(new Ctx(spark, base, r, many, Some(secs)), many, r)
        (one, many)
      })

    def run(law: Law): Unit = {
      val (one, many) = dirsOf(law.corpus)
      withConfs(law.corpus.confs) {
        val ref = Streams.withScratchCleanup(
          law.row(new Ctx(spark, base, r, many, None), one).collect())
        val got = Streams.withScratchCleanup {
          val c = new Ctx(spark, base, r, many, Some(secs))
          val got = c.time(law.name)(law.row(c, many).collect())
          law.check(c, ref, got)
          got
        }
        System.err.println(f"[scale] ${law.name}%-16s ${secs(law.name)}%8.2fs  R=$r")
        got.headOption.foreach(firstRows(law.name) = _)
        agreements.collect { case (a, b) if b == law.name && firstRows.contains(a) =>
          assert(firstRows(a).get(0) == got.head.get(0),
            s"$a and $b disagree at R=$r: ${firstRows(a)} vs ${got.head}")
        }
      }
    }

    def summary: String = (Seq(""""metric":"scale"""", s""""reps":$r""") ++
      secs.map { case (k, v) => f""""${k}_sec":$v%.2f""" } :+ s""""sf":"$base"""")
      .mkString("{", ",", "}")

    def close(): Unit = Streams.deleteTree(java.nio.file.Paths.get(root))

    private def withConfs[A](confs: Map[String, String])(f: => A): A = {
      val prior = confs.keys.map(k => k -> spark.conf.getOption(k))
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try f finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }

  // ------------------------------------------------------------ corpora

  /** `table` R× from the sf dir into `dir`: replica `rep` offsets each
    * `strides` column by rep × stride and suffixes each `renamed`
    * column `_<rep>`; every other column is copied as stored. */
  private def replicate(c: Ctx, dir: String, table: String, r: Int,
                        strides: Seq[(String, Long)], renamed: Seq[String] = Nil,
                        edit: DataFrame => DataFrame = identity): Unit = {
    val src = Tables.load(c.spark, c.base, table)
    val offset = strides.toMap
    val cols = src.columns.toSeq.map { n =>
      if (offset.contains(n)) (col(n) + col("rep") * offset(n)).as(n)
      else if (renamed.contains(n)) concat(col(n), lit("_"), col("rep")).as(n)
      else col(n)
    }
    edit(src.crossJoin(c.spark.range(r).toDF("rep")).select(cols: _*))
      .write.mode("overwrite").parquet(s"$dir/$table.parquet")
  }

  /** Max key + 1: replica key ranges derived from the data never
    * collide, whatever the SF. */
  private def keyStride(c: Ctx, table: String, key: String): Long =
    Tables.load(c.spark, c.base, table).agg(max(col(key))).head().getLong(0) + 1L

  private def documentsR(c: Ctx, dir: String, r: Int, stride: Long => Long = identity,
                         edit: DataFrame => DataFrame = identity): Unit =
    replicate(c, dir, "documents", r,
      Seq("doc_id" -> stride(keyStride(c, "documents", "doc_id"))), Seq("source"), edit)

  /** Documents with fresh doc_ids and renamed feeds; events with cloned
    * users under fresh user and event ids (identical behaviour). */
  private val replicated = new Corpus("replicated", (c, dir, r) => {
    documentsR(c, dir, r)
    replicate(c, dir, "events", r, Seq(
      "event_id" -> keyStride(c, "events", "event_id"),
      "user_id" -> keyStride(c, "events", "user_id")))
  })

  /** Documents with the doc_id stride rounded up to a multiple of 70,
    * so doc_id mod 10 and mod 7 (q197's snapshot membership and churn
    * rules) are preserved per replica. */
  private val stride70 = new Corpus("stride70",
    (c, dir, r) => documentsR(c, dir, r, s => (s + 69L) / 70L * 70L))

  /** The whole customer → orders → lineitem (+ events) FK chain with
    * consistent key strides; acctbal is preserved, so q193's tombstone
    * rule fires identically per replica. */
  private val fkChain = new Corpus("fk_chain", (c, dir, r) => {
    val ck = keyStride(c, "customer", "c_custkey")
    val ok = keyStride(c, "orders", "o_orderkey")
    replicate(c, dir, "customer", r, Seq("c_custkey" -> ck))
    replicate(c, dir, "orders", r, Seq("o_orderkey" -> ok, "o_custkey" -> ck))
    replicate(c, dir, "lineitem", r, Seq("l_orderkey" -> ok))
    replicate(c, dir, "events", r,
      Seq("event_id" -> keyStride(c, "events", "event_id"), "user_id" -> ck))
  })

  /** Events with SUBJECTS PRESERVED (same users and types, fresh event
    * ids: traffic grows, the population does not), customer as is. */
  private val traffic = new Corpus("traffic", (c, dir, r) => {
    replicate(c, dir, "events", r, Seq("event_id" -> keyStride(c, "events", "event_id")))
    replicate(c, dir, "customer", 1, Nil)
  })

  /** The flat-vs-split crossover, measured where it can appear: the
    * testdata has NO Zipf head (hottest pair = 0.13% of bigram mass), so
    * plant one — a boilerplate preamble on every doc, the
    * boilerplate-saturated-crawl shape — and turn auto-broadcast OFF to
    * simulate the 100 TB regime where the model outgrows broadcast and
    * the flat scoring join really shuffles. q104's explicit broadcast()
    * of the hot 1024 survives the threshold; its tail join shuffles only
    * the non-boilerplate remainder. */
  private val skew = new Corpus("skew", (c, dir, r) => documentsR(c, dir, r,
      edit = _.withColumn("text", concat(lit(Boilerplate + " "), col("text")))),
    confs = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"))
  private val Boilerplate = "terms of service apply all rights reserved " +
    "contact us for details cookie policy accepted by continued use"

  /** Replicated documents run through the real micro-batched LSH ingest
    * (`incrementalLshDedup`, shared by q107, q206, q207's card and the
    * q159 pipeline): the landed band index and candidate-pair log. */
  private val landed = new Corpus("landed", (c, dir, r) => {
    documentsR(c, dir, r)
    val ss = c.spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    Streams.orderedChunkFeed(
      Tables.documents(c.spark, dir).select(col("doc_id"), col("text")),
      s"$dir/feed", 4, col("doc_id"))
    c.time("q206_ingest")(Streams.runToCompletion(Streams.incrementalLshDedup(
      Streams.fileFeed(ss, "doc_id bigint, text string", s"$dir/feed"),
      s"$dir/index", s"$dir/pairs", s"$dir/ckpt")))
  }, ownBase = true)

  /** Embeddings R× plus a PREBUILT ANN index (vec_id, v, cell, PQ
    * codes). Codebooks are trained once on the base corpus (train on a
    * sample, assign at scale) and the index is built once (timed as
    * `ann_build`): search stages measure what a query pays against a
    * prebuilt index. Quantizing costs M·K·subDim multiply-adds per row,
    * paid once at build, while an exact scan pays D per row forever. */
  private val ann = new Corpus("ann", (c, dir, r) => {
    replicate(c, dir, "embeddings", r, Seq("vec_id" -> keyStride(c, "embeddings", "vec_id")))
    val cb = Similarity.trainedCodebook(c.spark, c.base)
    val books = Similarity.pqBooks(c.spark, c.base)
    c.time("ann_build") {
      val enc = vectors(Tables.embeddings(c.spark, dir), "vec_id", "v")
        .withColumn("cell", bestCell(cb, col("v")))
        .withColumn("__enc", PqFunctions.pq_encode(col("v"), books))
      enc.select(Seq(col("vec_id"), col("v"), col("cell")) ++ books.indices.map(i =>
          element_at(col("__enc"), i + 1).getField("code").as(s"__code$i")): _*)
        .write.mode("overwrite").parquet(s"$dir/ann_index.parquet")
    }
  }, ownBase = true)

  // ------------------------------------------------------- shared checks

  private def baseFeed(src: String): String = src.substring(0, src.lastIndexOf('_'))

  /** Keyed by feed (column 0): every replica feed `src_<rep>` reproduces
    * its base feed's `cols`, and every base feed reappears R times. */
  private def feedsEqual(cols: Int*): Check = (c, base, got) => {
    val want = base.map(b => b.getString(0) -> cols.map(b.get)).toMap
    assert(got.length == base.length * c.r,
      s"expected ${base.length * c.r} replica feeds, got ${got.length}")
    got.foreach { g =>
      val src = g.getString(0)
      assert(want.get(baseFeed(src)).contains(cols.map(g.get)),
        s"replica feed $src drifted from its base: ${cols.map(g.get)} vs " +
          want.get(baseFeed(src)))
    }
  }

  /** Cloned subjects under fresh ids: each row's `scaled` columns are
    * ×R its 1× twin's, the `same` columns (keys included) unchanged. */
  private def cellsScale(scaled: Seq[Int], same: Seq[Int]): Check = (c, base, got) => {
    def cells(rows: Array[Row], f: Long): Seq[String] = rows.toSeq.map(row =>
      (scaled ++ same).sorted.map(i =>
        if (scaled.contains(i)) row.getLong(i) * f else row.get(i)).mkString("|")).sorted
    assert(cells(got, 1) == cells(base, c.r),
      s"cells must scale ×${c.r} in columns $scaled, unchanged in $same")
  }

  // --------------------------------------------------------------- laws

  private def q(f: (SparkSession, String) => DataFrame): Query = (c, d) => f(c.spark, d)
  /** A timed stage with no law beyond running: executed to a count, so
    * the whole plan runs without collecting its rows. */
  private def counted(f: (SparkSession, String) => DataFrame): Query =
    (c, d) => f(c.spark, d).groupBy().count()
  private def docs(c: Ctx, dir: String): DataFrame =
    Tables.documents(c.spark, dir).select(col("doc_id"), col("text"))
  /** 1× docs under the LSH shingle floor: < 3 tokens never enter
    * verifiedPairs, so every replica of them survives dedup. */
  private def shortDocs(c: Ctx): DataFrame = Tables.documents(c.spark, c.base)
    .withColumn("toks", split(col("text"), " ")).filter(size(col("toks")) < 3)
  private def sumOf(rows: Array[Row], i: Int): Long = rows.map(_.getLong(i)).sum
  private def baseCard(c: Ctx): Row = PipelineQ.q149DatasetCard(c.spark, c.base).collect()(0)

  /** Pairs of laws whose R× rows must agree in column 0. */
  val agreements: Seq[(String, String)] = Seq(
    // q46 propagation vs q55 star contraction: one clustering
    "q46" -> "q55",
    // flat vs hot-split censuses on the boilerplate corpus
    "q95_skew" -> "q104_skew",
    "q99_skew" -> "q153_skew")

  lazy val laws: Seq[Law] = Seq(
    // ---- dedup ladder: every LSH bucket holds R copies of each member,
    // so candidate pairs grow ~R² while the corpus grows R
    Law("dedup_pairs", replicated, (c, d) => Dedup.verifiedPairs(docs(c, d))
      .filter(col("jaccard") >= 0.5).groupBy().count()),
    // replicated corpora produce dense cliques (propagation's best case);
    // the round counts ride in column 1
    Law("q46", replicated, (c, d) => {
      val (labels, rounds) = Dedup.clustersCounted(docs(c, d))
      labels.filter(col("is_canonical")).groupBy().count().withColumn("rounds", lit(rounds))
    }),
    Law("q55", replicated, (c, d) => {
      val (labels, rounds) = graft.ops.ConnectedComponents.assignCounted(
        Dedup.verifiedEdges(docs(c, d)).select(col("doc_a").as("u"), col("doc_b").as("v")))
      labels.select(col("component")).distinct().groupBy().count()
        .withColumn("rounds", lit(rounds))
    }),

    // ---- ANN search paths over the prebuilt index, same 5 query vectors:
    // exact (q29 shape) grows linearly in corpus × queries × D; ivf
    // (q57, nprobe=2) divides candidates by K/nprobe; adc (q59) trades D
    // multiply-adds for M lookups; ivfpq (q63) compounds both
    Law("ann_exact", ann, annSearch(pq = false, probed = false)),
    Law("ann_ivf", ann, annSearch(pq = false, probed = true)),
    Law("ann_adc", ann, annSearch(pq = true, probed = false)),
    Law("ann_ivfpq", ann, annSearch(pq = true, probed = true)),

    // ---- corpus curation
    // replication makes EVERY gram cross-doc-duplicated (nd ≥ R): the
    // semi-join passes the whole exploded table, its worst case
    Law("q74", replicated, counted(Dedup.q74CrossdocSpans)),
    // replica feeds carry identical gram sets: every replica pair of a
    // base feed must report a full minhash match
    Law("q81", replicated, counted((s, d) => Dedup.q81SourceOverlap(s, d)
        .filter(col("matching_minhashes") === Dedup.SourceMinHashes.toLong)),
      (c, _, got) => {
        val want = c.r.toLong * (c.r - 1) / 2 *
          Tables.documents(c.spark, c.base).select(col("source")).distinct().count()
        assert(got.head.getLong(0) >= want,
          s"replica feeds not detected: ${got.head.getLong(0)} full matches < $want")
      }),
    // BPE: the corpus pass grows linearly, merge rounds stay vocab-bounded
    Law("q79", replicated, counted(Bpe.q79BpeMerges)),
    Law("q80", replicated, counted(Bpe.q80BpeTokenize)),
    // replication adds NO distinct bigrams: only the scoring join grows
    Law("q95", replicated, counted(Text.q95BigramSurprisal)),
    Law("q104", replicated, counted(Text.q104BigramSkewSafe(_, _))),
    // every doc is an exact near-dup of its R-1 replicas, so the policy
    // keeps ONE copy corpus-wide — EXCEPT docs under the LSH shingle
    // floor (< 3 tokens never enter verifiedPairs, so all R copies
    // survive by design): R× survivor mass = 1× mass + (R-1) copies of
    // that unclusterable tail (zero in current testdata, but the
    // invariant shouldn't depend on that)
    Law("q98", replicated,
      (c, d) => PipelineQ.q98DedupedMixture(c.spark, d).agg(sum(col("tokens"))),
      (c, base, got) => {
        val shortTok = shortDocs(c)
          .agg(coalesce(sum(size(col("toks")).cast("long")), lit(0L))).head().getLong(0)
        val want = base.head.getLong(0) + (c.r - 1L) * shortTok
        assert(got.head.getLong(0) == want,
          s"dedup must collapse the R× corpus to 1× (+ sub-shingle tail): " +
            s"survivors ${got.head.getLong(0)} != $want (short $shortTok)")
      }),
    // the corpus side grows R×, the train model stays type-bounded: the
    // split is doc_id-salted, so replicas re-split, but types can't
    // exceed the base inventory
    Law("q99", replicated, counted(Text.q99HeldoutSurprisal), (c, _, _) => {
      def bigramTypes(df: DataFrame): Long = df
        .select(split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(explode(expr("transform(sequence(0, size(toks) - 2), " +
          "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")).as("bg"))
        .select(col("bg.w1"), col("bg.w2")).distinct().count()
      val baseTypes = bigramTypes(Tables.documents(c.spark, c.base))
      val trainTypes = bigramTypes(Tables.documents(c.spark, c.scaled)
        .filter(Text.splitLabel(col("doc_id")) === "train"))
      assert(trainTypes <= baseTypes,
        s"q99 train model grew past the base type inventory at R×: " +
          s"$trainTypes > $baseTypes — replication must add corpus, not model")
    }),
    // cloned users: every anonymity set of size k becomes EXACTLY size
    // R·k with the same signature count
    Law("q101", replicated, q(Events.q101ReidRisk), cellsScale(Seq(0, 2), Seq(1))),
    // explode vs fused bootstrap (the B×-row-stream trade at scale): each
    // replica source's mean stays within bootstrap noise of its base
    // source's (same docs, fresh seeded weights), no replica starves
    Law("q102", replicated, q(Stats.q102BootstrapMoments), (_, base, got) => {
      val want = base.map(b => b.getString(0) -> (b.getLong(2), b.getLong(3))).toMap
      val bootN = Stats.BootReplicas.toDouble
      got.foreach { g =>
        val src = g.getString(0)
        val (meanB, ssB) = want(baseFeed(src))
        assert(g.getLong(1) == Stats.BootReplicas.toLong,
          s"q102 replica starved at R× for $src")
        // sd(mean of the B replica means) = sqrt(ss)/B^1.5 (ss =
        // B·Σm²−(Σm)²); 6σ from BOTH sides plus integer-floor slack
        val bound = 6.0 * (math.sqrt(ssB.toDouble) +
          math.sqrt(g.getLong(3).toDouble)) / math.pow(bootN, 1.5) + 2.0
        val diff = math.abs(g.getLong(2) - meanB).toDouble
        assert(diff <= bound, s"q102 replica mean drifted past bootstrap " +
          s"noise for $src: |${g.getLong(2)} - $meanB| = $diff > $bound")
      }
    }),
    Law("q103", replicated, counted(Stats.q103BootstrapFused)),
    Law("q95_skew", skew, counted(Text.q95BigramSurprisal)),
    Law("q104_skew", skew, counted(Text.q104BigramSkewSafe(_, _))),
    // held-out edition: q153's split vs q99's flat left-joins (the
    // boilerplate head rides the broadcasts, the pair AND the context key)
    Law("q99_skew", skew, counted(Text.q99HeldoutSurprisal)),
    Law("q153_skew", skew, counted(Text.q153HeldoutSkewSafe(_, _))),
    // replica feeds are exact copies: the per-feed lexical census is
    // replication-invariant, the shuffle stays O(feeds × vocab)
    Law("q108", replicated, q(Text.q108LexicalDiversity), feedsEqual(1, 2, 3)),
    // every >=3-token doc clusters with its replicas, so per quality
    // bucket: docs scale R×, unclustered collapses to R× the sub-shingle
    // tail, kept = 1× kept + 1× clusterable unclustered (each base
    // singleton's replica clique keeps ONE)
    Law("q112", replicated, q(Dedup.q112QualityDedupGrid), (c, base, got) => {
      val want = base.map(b => b.getString(0) -> (b.getLong(1), b.getLong(2), b.getLong(3))).toMap
      val short = shortDocs(c)
        .groupBy(graft.ops.TextOps.qualityBucket(col("toks"), col("n_chars"))).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      got.foreach { g =>
        val bucket = g.getString(0)
        val (docs1, un1, kept1) = want(bucket)
        val short1 = short.getOrElse(bucket, 0L)
        assert(g.getLong(1) == c.r * docs1, s"q112 $bucket docs must scale R×")
        assert(g.getLong(2) == c.r * short1,
          s"q112 $bucket unclustered must collapse to the sub-shingle tail")
        assert(g.getLong(3) == kept1 + (un1 - short1),
          s"q112 $bucket kept must be 1× kept + newly-clustered singletons")
      }
    }),
    // cloned users replay identical µs sequences: every (type, bucket)
    // cell scales count ×R with min/max gaps unchanged
    Law("q109", replicated, q(Events.q109IntereventGaps),
      cellsScale(Seq(2), Seq(0, 1, 3, 4))),
    // replicating the value multiset preserves median and MAD exactly,
    // scales n and outliers ×R, leaves the ppm rate bit-identical
    Law("q111", replicated, q(Stats.q111MadOutliers),
      cellsScale(Seq(1, 4), Seq(0, 2, 3, 5))),
    // replication densifies every component toward a clique (each base
    // node an R-clique, each base edge a complete R×R block): the
    // clustering coefficient must move UP into the clique regime
    Law("q114", replicated, q(Dedup.q114TriangleCensus), (_, base, got) => {
      assert(got.head.getLong(3) > 0, "no triangles on the replicated corpus")
      assert(got.head.getLong(4) >= base.head.getLong(4),
        s"q114 cc must densify under replication: " +
          s"${got.head.getLong(4)} < ${base.head.getLong(4)}")
    }),
    // chunking is a pure per-doc function of text
    Law("q121", replicated, q(Text.q121DocChunks), feedsEqual(1, 2, 3, 4, 5, 6)),
    // the LOCF grid is per-user, so replication is key-parallel
    Law("q122", replicated, q(Events.q122LocfGrid), cellsScale(Seq(1, 2, 3), Seq(0))),
    // replica docs carry FRESH doc_ids, so their masks are fresh draws of
    // the same 15% position-hash: positions per feed are invariant, the
    // realized rate stays in the envelope
    Law("q126", replicated, q(Text.q126MaskPlan), (c, base, got) => {
      feedsEqual(1)(c, base, got)
      got.foreach(g => assert(g.getLong(4) > 100000L && g.getLong(4) < 200000L,
        s"q126 ${g.getString(0)} mask rate ${g.getLong(4)} ppm left the 15%±5pp envelope"))
    }),
    // the score multiset replicates exactly: each positional decile
    // holds R× its base docs and the global envelope is unchanged. The
    // per-decile law needs 10 | N (ntile remainder buckets don't scale
    // linearly: N=15, R=3 gives base 2,2,...,1 but 45 rows split
    // 5,5,...,4, not 6,...,3)
    Law("q127", replicated, q(Text.q127CurriculumDeciles), (c, base, got) => {
      val nDocs = Tables.documents(c.spark, c.base).count()
      require(nDocs % 10 == 0,
        s"q127 law needs a doc count divisible by 10, got $nDocs")
      val (b, g) = (base.sortBy(_.getInt(0)), got.sortBy(_.getInt(0)))
      g.zip(b).foreach { case (x, y) => assert(x.getLong(1) == c.r * y.getLong(1),
        s"q127 decile ${x.getInt(0)} must hold R× its base docs") }
      assert(g.head.getLong(3) == b.head.getLong(3) && g.last.getLong(4) == b.last.getLong(4),
        "q127 global score envelope moved under replication")
    }),
    // segmentation is per-doc, so each replica feed's (segs, chars)
    // inventory is its base feed's; first-occurrence-wins keeps one copy
    // per distinct fingerprint, so the GLOBAL kept mass is R-invariant
    Law("q134", replicated, q(Dedup.q134SegmentDedup), (c, base, got) => {
      feedsEqual(2, 4)(c, base, got)
      assert(sumOf(got, 3) == sumOf(base, 3),
        "q134 kept mass must be R-invariant: one survivor per distinct fingerprint")
    }),
    // c2, both marginals and N scale by exactly R, so lift_ppm =
    // c2·N·10⁶÷(c1·c_r) is bit-invariant: the top-20 reproduces, counts ×R
    Law("q137", replicated, q(Text.q137PmiPairs), cellsScale(Seq(3), Seq(0, 1, 2, 4))),
    // every transition cell scales ×R with P(to|from) unchanged
    Law("q139", replicated, q(Events.q139SessionTransitions),
      cellsScale(Seq(2), Seq(0, 1, 3))),
    // intervals/closed/duration mass scale ×R per state while the
    // longest single interval is R-invariant (no run spans users)
    Law("q194", replicated, q(Temporal.q194Scd2Intervals),
      cellsScale(Seq(1, 2, 3), Seq(0, 4))),
    // every replica doc lands in the SAME diff class as its base doc:
    // each (source, class) census row replays its base feed's verbatim
    Law("q197", stride70, q(PipelineQ.q197SnapshotDiff), feedsEqual(1, 2, 3, 4)),
    // transitive purge over the replicated FK chain: every census cell
    // ×R, residual_refs pinned at 0 — a key-join cascade, never a rescan
    // whose cost depends on the tombstone count
    Law("q193", fkChain, q(Events.q193DeletionPropagation), (c, base, got) => {
      cellsScale(Seq(1, 2, 3), Seq(0))(c, base, got)
      assert(got.forall(_.getLong(4) == 0L), "q193 left residual references at R×")
    }),
    // packing is a pure function of a feed's texts in doc_id order
    Law("q142", replicated, q(MultimodalQ.q142MultimodalPacking),
      feedsEqual(1, 2, 3, 4, 5, 6)),
    // the datasheet: size ×R, feeds ×R with langs invariant, distinct
    // fingerprints INVARIANT (every replica duplicates a base doc), so
    // the exact-dup rate obeys (R·docs − fps)·10⁶ ÷ (R·docs); mean TTR
    // invariant
    Law("q149", replicated, q(PipelineQ.q149DatasetCard), (c, base, got) => {
      def card(row: Row, n: String): Long = row.getAs[Long](n)
      val (b, g) = (base.head, got.head)
      Seq("docs", "tokens", "sources").foreach(n =>
        assert(card(g, n) == c.r * card(b, n), s"q149 $n must scale ×R"))
      assert(card(g, "langs") == card(b, "langs"), "q149 langs must not change")
      assert(card(g, "distinct_fps") == card(b, "distinct_fps"),
        "replication must add copies, never new fingerprints")
      assert(card(g, "exact_dup_ppm") ==
        (card(g, "docs") - card(g, "distinct_fps")) * 1000000L / card(g, "docs"))
      assert(card(g, "mean_ttr_pm") == card(b, "mean_ttr_pm"),
        "the TTR multiset replicates exactly — the mean cannot move")
    }),
    // at any scale train is never dropped and the splits partition the
    // R× corpus
    Law("q150", replicated, q(Dedup.q150DecontaminatedSplits), (c, _, got) => {
      assert(sumOf(got, 1) == c.r * baseCard(c).getAs[Long]("docs"),
        "q150 splits must partition the replicated corpus")
      got.foreach { g =>
        if (g.getString(0) == "train")
          assert(g.getLong(2) == 0L, "q150 dropped train docs at R×")
        assert(g.getLong(3) + g.getLong(2) == g.getLong(1))
      }
    }),
    // the kept mass fits the R× budget and the prefix is maximal (no
    // dropped doc could still fit); integer budget floors may move the
    // boundary by a doc, so the classification itself is not pinned
    Law("q169", replicated, q(Selection.q169TokenBudget), (c, _, got) => {
      val budget = sumOf(got, 2) * Selection.BudgetPct / 100
      val kept = sumOf(got, 4)
      assert(kept <= budget, "q169 kept mass exceeds the R× budget")
      val maxDoc = Selection.ttrScored(c.spark, c.scaled).agg(max(col("t"))).head().getLong(0)
      assert(budget - kept < maxDoc,
        "q169 prefix not maximal at R× — a doc-sized budget gap remains")
    }),
    // a replica source is its base feed under an order-preserving doc_id
    // shift: kept docs/tokens and cut score reproduce
    Law("q170", replicated, q(Selection.q170SourceBudget), feedsEqual(1, 2, 3, 4, 5)),
    // the exact audit's hash-keyed self-join grows ~R² (every base hash
    // is now held by R sources) while the sketch path (q174's snapshot
    // shape) stays O(sources²·k): a same-base source pair holds
    // IDENTICAL content, so it overlaps fully and est_common == est_union
    Law("q171", replicated, q(Dedup.q171SketchOverlap), (_, _, got) => {
      got.filter(g => baseFeed(g.getString(0)) == baseFeed(g.getString(1))).foreach { g =>
        assert(g.getLong(4) == g.getLong(2) && g.getLong(4) == g.getLong(3),
          s"q171 same-base pair must fully overlap exactly: $g")
        assert(g.getLong(6) == g.getLong(7),
          s"q171 same-base pair sketches identical => est_common == est_union: $g")
      }
    }),
    Law("q171_sketch", replicated, counted((s, d) => Dedup.overlapEstimates(
      Dedup.overlapSketchesOf(Dedup.overlapHashesOf(Tables.documents(s, d)))))),
    // replication adds copies, never content: with R ≥ cap every
    // fingerprint saturates its cap, so kept == cap · distinct_fps
    Law("q172", replicated, q(Dedup.q172CappedDedup), (c, _, got) => {
      require(c.r >= Dedup.DupCap, s"q172 law needs R >= ${Dedup.DupCap}")
      assert(sumOf(got, 3) == Dedup.DupCap.toLong * baseCard(c).getAs[Long]("distinct_fps"),
        "q172 at R≥cap must keep exactly cap copies of every distinct content")
    }),
    // the commutative-monoid law at fan-out R: the 1× corpus split into
    // R disjoint shards, each shard's roots computed INDEPENDENTLY, then
    // folded through the q203 snapshot merge, must be BIT-IDENTICAL to
    // the one-shot scan — what lets R mirrored replicas agree on the
    // commitment with no ordering contract. Timed: one linear R× scan.
    Law("q200", replicated, q(PipelineQ.q200IntegrityRoots), (c, base, _) => {
      val docs1 = Tables.documents(c.spark, c.base)
      val shards = (0 until c.r).map(k =>
          PipelineQ.integrityRoots(docs1.filter(col("doc_id") % c.r === k)))
        .reduce(_.unionAll(_))
      val merged = PipelineQ.mergeRootPartials(shards).collect()
      assert(merged.map(_.toString).sorted.sameElements(base.map(_.toString).sorted),
        s"q200 monoid law broken at fan-out ${c.r}: shard-fold != corpus scan")
    }),
    // the ingest expectations gate over its real micro-batched ingest
    // (stream-static FK probe included): rows_checked and violations ×R,
    // distinct_keys INVARIANT — per-batch state stays O(users + types)
    Law("q202", traffic, q(StreamingQ.q202IncrementalExpectations),
      cellsScale(Seq(1, 2), Seq(0, 3))),
    // the landed candidate-pair log scales like the LSH candidate
    // STRUCTURE: R² cross-pairs per base candidate pair plus C(R,2)
    // same-doc pairs per signed doc, EXACTLY
    Law("q206_pairs", landed, (c, d) => pairLog(c, d).groupBy().count(),
      (c, _, got) => {
        val want = ingestPairs(c)
        assert(got.head.getLong(0) == want,
          s"ingest pair-log law broken at R=${c.r}: got ${got.head.getLong(0)}, want $want")
      }),
    // the near-dup census over the landed log folds every replica family
    // into one cluster: base clusters keep their cluster_id (rep 0 keeps
    // the original ids, the component min) with membership ×R, and every
    // signed-but-unclustered doc becomes a fresh R-clique
    Law("q206_clusters", landed, (c, d) =>
      Dedup.clustersFromEdgesCounted(Dedup.verifiedEdgesFromLog(pairLog(c, d),
          Tables.documents(c.spark, d)))._1
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("n")),
      (c, _, got) => {
        val labels = Dedup.clustersFromEdgesCounted(
          Dedup.verifiedEdges(docs(c, c.base)))._1.collect()
        val clustered = labels.map(_.getAs[Long]("doc_id")).toSet
        val want = labels.groupBy(_.getAs[Long]("cluster_id"))
          .map { case (k, rs) => k -> rs.length.toLong * c.r } ++
          signedDocs(c).filterNot(clustered).map(_ -> c.r.toLong)
        assert(got.map(g => g.getLong(0) -> g.getLong(1)).toMap == want,
          s"ingest cluster law broken at R=${c.r}: ${got.length} clusters vs ${want.size}")
      }),
    // erase a FIXED base-subject set (every rep-0 doc_id ≡ TombResidue
    // mod TombMod, the same requests at every R) from the landed index
    // and pair log: the rewrite tracks the tombstones' partition fan-out,
    // never the index size — exactly the partitions holding a subject
    // reference are rewritten, every other keeps its files and mtimes,
    // and the survivors are the pre-vacuum mass minus the exact hits
    Law("vacuum", landed, vacuumRow, (c, _, got) => {
      val g = got.head
      assert(g.getLong(0) == g.getLong(1), s"index vacuum rewrote ${g.getLong(0)} " +
        s"partitions; subjects touch exactly ${g.getLong(1)}")
      assert(g.getLong(2) == g.getLong(3), s"pair-log vacuum rewrote ${g.getLong(2)} " +
        s"partitions, expected ${g.getLong(3)}")
      assert(g.getLong(4) == 0L, s"vacuum left residuals at R=${c.r}")
      // P1·R + P2·(2R-1) cross hits + T·(R-1) same-doc hits
      val tombs = tombIds(c).toSet
      val pairs1 = Dedup.lshCandidates(docs(c, c.base)).select(col("doc_a"), col("doc_b"))
        .collect().map(p => (p.getLong(0), p.getLong(1)))
      val p2 = pairs1.count { case (a, b) => tombs(a) && tombs(b) }
      val p1 = pairs1.count { case (a, b) => tombs(a) ^ tombs(b) }
      val want = ingestPairs(c) - p1.toLong * c.r - p2.toLong * (2L * c.r - 1) -
        tombs.size.toLong * (c.r - 1)
      assert(g.getLong(5) == want,
        s"vacuumed pair census broken at R=${c.r}: got ${g.getLong(5)}, want $want")
    })
  )

  // ------------------------------------------------- landed-ingest helpers

  private def pairLog(c: Ctx, dir: String): DataFrame =
    c.spark.read.parquet(s"$dir/pairs").select(col("doc_a"), col("doc_b")).distinct()

  private def signedDocs(c: Ctx): Array[Long] = Dedup.bandedSignatures(docs(c, c.base))
    .select(col("doc_id")).distinct().collect().map(_.getLong(0))

  /** R²·(1× candidate pairs) + C(R,2)·(signed docs). */
  private def ingestPairs(c: Ctx): Long =
    c.r.toLong * c.r * Dedup.lshCandidates(docs(c, c.base)).count() +
      c.r.toLong * (c.r - 1) / 2 * signedDocs(c).length

  private def tombIds(c: Ctx): Seq[Long] = signedDocs(c).toSeq
    .filter(_ % StreamingQ.TombMod == StreamingQ.TombResidue)

  /** (index partitions rewritten, partitions holding a subject, the same
    * two for the pair log, residual references, surviving pairs). */
  private def vacuumRow(c: Ctx, dir: String): DataFrame = {
    val tombs = tombIds(c)
    val tombDf = c.spark.createDataFrame(tombs.map(Tuple1(_))).toDF("doc_id")
    val (index, pairs) = (s"$dir/index", s"$dir/pairs")
    val touchedIdx = c.spark.read.parquet(index).filter(col("doc_id").isin(tombs: _*))
      .select(col("band"), col("batch_id")).distinct().count()
    val touchedPairs = c.spark.read.parquet(pairs)
      .filter(col("doc_a").isin(tombs: _*) || col("doc_b").isin(tombs: _*))
      .select(col("batch_id")).distinct().count()
    val (idxBefore, pairsBefore) = (leafState(index), leafState(pairs))
    c.time("vacuum_rewrite") {
      Streams.vacuumTombstoned(c.spark, index, tombDf, Seq("doc_id"), Seq("band", "batch_id"))
      Streams.vacuumTombstoned(c.spark, pairs, tombDf, Seq("doc_a", "doc_b"), Seq("batch_id"))
    }
    val residuals = Streams.tombstoneResiduals(c.spark, index, tombDf, Seq("doc_id")) +
      Streams.tombstoneResiduals(c.spark, pairs, tombDf, Seq("doc_a", "doc_b"))
    def rewritten(before: Map[String, Set[(String, Long)]], root: String): Long = {
      val after = leafState(root)
      before.count { case (d, fs) => !after.get(d).contains(fs) }.toLong
    }
    c.spark.createDataFrame(Seq((rewritten(idxBefore, index), touchedIdx,
      rewritten(pairsBefore, pairs), touchedPairs, residuals, pairLog(c, dir).count())))
  }

  /** Data files (name, mtime) per leaf partition dir under `root`. */
  private def leafState(root: String): Map[String, Set[(String, Long)]] = {
    def walk(f: java.io.File, rel: String): Seq[(String, Set[(String, Long)])] = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty)
        .filterNot(k => k.getName.startsWith("_") || k.getName.startsWith("."))
      val files = kids.filter(_.isFile).map(k => k.getName -> k.lastModified()).toSet
      (if (files.nonEmpty) Seq(rel -> files) else Nil) ++
        kids.filter(_.isDirectory).toSeq.flatMap(d => walk(d, s"$rel/${d.getName}"))
    }
    walk(new java.io.File(root), "").toMap
  }

  // ------------------------------------------------------- ANN helpers

  private def vectors(df: DataFrame, id: String, as: String): DataFrame =
    df.select(col("vec_id").as(id), col("embedding").cast("array<double>").as(as))

  private def cosines(cb: Array[Array[Double]], v: Column): Column =
    array(cb.map(cc => Similarity.cosine(v, array(cc.map(lit).toSeq: _*))).toSeq: _*)
  private def argmax(a: Column): Column = (array_position(a, array_max(a)) - 1).cast("int")
  private def bestCell(cb: Array[Array[Double]], v: Column): Column = argmax(cosines(cb, v))

  /** Top-3 neighbours of 5 base query vectors over the prebuilt index
    * (executed to a count, so the whole plan runs),
    * by exact cosine or by PQ table lookups (`pq`), over every cell or
    * the two `probed` ones: best + masked second-best cell per query
    * (q57's nprobe=2), one derivation for ivf and ivfpq so both measure
    * the same probe policy. */
  private def annSearch(pq: Boolean, probed: Boolean): Query = (c, d) => {
    val books = Similarity.pqBooks(c.spark, c.base)
    val plain = vectors(Tables.embeddings(c.spark, c.base).filter(col("vec_id") < 5),
      "query_id", "qv")
    val coded = if (!pq) plain
      else plain.withColumn("__tabs", PqFunctions.pq_dist_table(col("qv"), books))
    val queries = if (!probed) coded
      else coded
        .withColumn("cs", cosines(Similarity.trainedCodebook(c.spark, c.base), col("qv")))
        .withColumn("c1", argmax(col("cs")))
        .withColumn("ms", transform(col("cs"),
          (x, i) => when(i === col("c1"), lit(-2d)).otherwise(x)))
        .withColumn("probe_cell", explode(array(col("c1"), argmax(col("ms")))))
        .drop("cs", "c1", "ms")
    val score = if (!pq) Similarity.cosine(col("qv"), col("v"))
      else books.indices.map(i =>
        element_at(element_at(col("__tabs"), i + 1), col(s"__code$i") + 1)).reduce(_ + _)
    val on = col("vec_id") =!= col("query_id") &&
      (if (probed) col("cell") === col("probe_cell") else lit(true))
    val w = Window.partitionBy(col("query_id")) // PQ scores are distances
      .orderBy(if (pq) col("score").asc else col("score").desc, col("neighbor_id").asc)
    c.spark.read.parquet(s"$d/ann_index.parquet").join(broadcast(queries), on)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), score.as("score"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3).groupBy().count()
  }
}
