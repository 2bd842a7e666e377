package graft

import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** Throwaway phase-timing probe for the q159 incremental pipeline
  * (not part of the driver contract). */
object PipeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.build(defaultCpus = "32")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[pipeprobe] $label%-20s ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    // warm
    SparkEntry.queries("q159_incremental_pipeline")(spark, "/root/testdata/sf0.001")
      .write.format("noop").mode("overwrite").save()
    (1 to 2).foreach { run =>
      val work = Streams.scratchDir("graft_pipeprobe")
      t(s"run$run feed") {
        Streams.orderedChunkFeed(
          Tables.documents(spark, sfDir).select(col("source"), col("doc_id"),
            col("text"), col("n_chars")),
          s"$work/feed", 4, col("doc_id"))
      }
      val stream = Streams.fileFeed(spark,
        "source string, doc_id bigint, text string, n_chars bigint",
        s"$work/feed")
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      t(s"run$run ingest") {
        try {
          spark.conf.set("spark.sql.shuffle.partitions", "8")
          Streams.runToCompletion(Streams.incrementalPipeline(stream,
            s"$work/fp", s"$work/survivors", s"$work/lsh", s"$work/pairs",
            s"$work/ckpt"))
        } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      }
      t(s"run$run finalize") {
        Streams.finalizePipeline(spark, s"$work/survivors", s"$work/pairs")
          .write.format("noop").mode("overwrite").save()
      }
    }
    // manual single-batch breakdown (quarter corpus, no stream machinery)
    locally {
      import graft.ops.TextOps
      val work = Streams.scratchDir("graft_pipeprobe_manual")
      val batch = Tables.documents(spark, sfDir)
        .select(col("source"), col("doc_id"), col("text"), col("n_chars"))
        .filter(col("doc_id") % 4 === 0)
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val quality = t("m quality") {
        val q = batch
          .withColumn("toks", TextOps.tokens(col("text")))
          .filter(TextOps.qualityBucket(col("toks"), col("n_chars")) === "ok")
          .drop("toks")
          .withColumn("fp", TextOps.fingerprint(col("text")))
          .withColumn("fp_prefix", substring(col("fp"), 1, Streams.FpPrefixLen))
          .persist()
        q.count(); q
      }
      val survivors = t("m exact-dedup") {
        val s2 = quality.join(
          quality.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id")),
          Seq("fp", "doc_id"), "left_semi").persist()
        s2.count(); s2
      }
      t("m fp write") {
        survivors.select(col("fp_prefix"), col("fp"))
          .withColumn("batch_id", lit(0L))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("fp_prefix", "batch_id").parquet(s"$work/fp")
      }
      t("m survivors write") {
        survivors.select(col("source"), col("doc_id"), col("text"), col("n_chars"))
          .withColumn("batch_id", lit(0L))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(s"$work/surv")
      }
      t("m lshDedupStep") {
        Streams.lshDedupStep(survivors.select(col("doc_id"), col("text")),
          0L, s"$work/lsh", s"$work/pairs")
      }
      // committer A/B: dynamic partition overwrite vs plain append into
      // a FRESH batch_id partition (identical result when the partition
      // does not exist — the non-replay case of every landing)
      (2L to 4L).foreach { b =>
        t(s"m fp write dyn b$b") {
          survivors.select(col("fp_prefix"), col("fp"))
            .withColumn("batch_id", lit(b))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("fp_prefix", "batch_id").parquet(s"$work/fp")
        }
      }
      (5L to 7L).foreach { b =>
        t(s"m fp write app b$b") {
          survivors.select(col("fp_prefix"), col("fp"))
            .withColumn("batch_id", lit(b))
            .write.mode("append")
            .partitionBy("fp_prefix", "batch_id").parquet(s"$work/fp")
        }
      }
      (2L to 4L).foreach { b =>
        t(s"m surv write dyn b$b") {
          survivors.select(col("source"), col("doc_id"), col("n_chars"))
            .withColumn("batch_id", lit(b))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(s"$work/surv")
        }
      }
      (5L to 7L).foreach { b =>
        t(s"m surv write app b$b") {
          survivors.select(col("source"), col("doc_id"), col("n_chars"))
            .withColumn("batch_id", lit(b))
            .write.mode("append")
            .partitionBy("batch_id").parquet(s"$work/surv")
        }
      }
      t("m fp write c1") {
        survivors.select(col("fp_prefix"), col("fp"))
          .withColumn("batch_id", lit(1L)).coalesce(1)
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("fp_prefix", "batch_id").parquet(s"$work/fp")
      }
      t("m sig write c1") {
        graft.queries.Dedup.bandedSignatures(
            survivors.select(col("doc_id"), col("text")))
          .withColumn("batch_id", lit(1L)).coalesce(1)
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("band", "batch_id").parquet(s"$work/lsh")
      }
      spark.conf.set("spark.sql.shuffle.partitions", "32")
    }
    spark.stop()
  }
}
