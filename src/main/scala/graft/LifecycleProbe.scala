package graft

import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** Throwaway phase-timing probe for the q216-family lifecycle rows
  * (not part of the driver contract): feed → ingest → vacuum(index) →
  * vacuum(pairs) → residual audit → jaccard verify, each phase timed
  * separately so the shared machinery's fixed costs are attributable.
  * Mirrors StreamingQ.q216IndexVacuum exactly (same helpers, same
  * params); a change here is meaningless unless q216 itself changes.
  */
object LifecycleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = if (args.nonEmpty) args(0).toInt else 2
    val spark = LocalSession.build(defaultCpus = "32")
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[lcprobe] $label%-22s ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    // warm: one full q216 at sf0.001 (codegen + class loading)
    SparkEntry.queries("q216_index_vacuum")(spark, "/root/testdata/sf0.001")
      .write.format("noop").mode("overwrite").save()
    (1 to reps).foreach { run =>
      println(s"[lcprobe] --- run $run ---")
      val work = Streams.scratchDir("graft_lcprobe")
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      t("feed (4 chunks)") {
        docs.repartition(4).write.parquet(s"$work/chunks")
      }
      t("ingest (4 batches)") {
        Streams.runToCompletion(Streams.incrementalLshDedup(
          Streams.fileFeed(ss, "doc_id bigint, text string", s"$work/chunks"),
          s"$work/index", s"$work/pairs", s"$work/ckpt"))
      }
      val tombs = Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 10 === 3).select(col("doc_id"))
      t("vacuum both (par)") {
        Streams.vacuumTombstonedPar(spark, Seq(
          (s"$work/index", Seq("doc_id"), Seq("band", "batch_id")),
          (s"$work/pairs", Seq("doc_a", "doc_b"), Seq("batch_id"))), tombs)
      }
      t("residual audit") {
        val r = Streams.tombstoneResidualsMany(spark, Seq(
          (s"$work/index", Seq("doc_id")),
          (s"$work/pairs", Seq("doc_a", "doc_b"))), tombs)
        require(r == 0L)
      }
      t("jaccard verify") {
        graft.queries.Dedup.jaccardVerify(
          spark.read.parquet(s"$work/pairs")
            .select(col("doc_a"), col("doc_b")).distinct(),
          Tables.documents(spark, sfDir).filter(col("doc_id") % 10 =!= 3))
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
