package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The poll-safe contract of the monitor family: a snapshot polled
  * before its monitor's first micro-batch commits reads a partials log
  * that does not exist yet, and must answer "no data yet" — zero rows
  * — instead of throwing. One table over every monitor snapshot
  * reader, so a reader that bypasses the empty-log path cannot hide
  * behind the others' tests. (`latestSnapshot` is not a monitor
  * reader: it views an upsert log whose schema only the writer knows.)
  */
class SnapshotEmptyLogSpec extends SparkSpec {

  test("every monitor snapshot reads a never-written log as zero rows") {
    val never = java.nio.file.Files.createTempDirectory("graft_nolog")
      .resolve("never").toString
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = graft.queries.Stats.exactMedianOf(docs)
    val readers: Seq[(String, () => DataFrame)] = Seq(
      "cms" -> (() => Streams.cmsSnapshot(spark, never)),
      "sourceSignature" -> (() => Streams.sourceSignatureSnapshot(spark, never)),
      "expectations" -> (() => Streams.expectationsSnapshot(spark, never)),
      "integrityRoots" -> (() => Streams.integrityRootsSnapshot(spark, never)),
      "contamination" -> (() => Streams.contaminationSnapshot(spark, never)),
      "datasetCard" -> (() => Streams.datasetCardSnapshot(spark, never, docs)),
      "writePathGate" -> (() => Streams.writePathGateSnapshot(spark, never)),
      "calibration" -> (() => Streams.calibrationSnapshot(spark, never)),
      "zorder" -> (() => Streams.zorderSnapshot(spark, never)),
      "mixtureWeights" -> (() => Streams.mixtureWeightsSnapshot(spark, never)),
      "kmv" -> (() => Streams.kmvSnapshot(spark, never)),
      "overlap" -> (() => Streams.overlapSnapshot(spark, never)),
      "centroid" -> (() => Streams.centroidSnapshot(spark, never)),
      "quantile" -> (() => Streams.quantileSnapshot(spark, never, exact)),
      "segmentDedup" ->
        (() => Streams.segmentDedupSnapshot(spark, never, s"$never/docs")),
      "cappedDedup" ->
        (() => Streams.cappedDedupSnapshot(spark, never, s"$never/copies")),
      "budget" -> (() => Streams.budgetSnapshot(spark, never)),
      "sourceBudget" -> (() => Streams.sourceBudgetSnapshot(spark, never)),
      "curriculum" -> (() => Streams.curriculumSnapshot(spark, never)),
      "frontier" -> (() => Streams.frontierSnapshot(spark, never)),
      "winsorize" -> (() => Streams.winsorizeSnapshot(spark, never)),
      "chi2" -> (() => Streams.chi2Snapshot(spark, never)),
      "oovRate" -> (() => Streams.oovRateSnapshot(spark, never)),
      "lexicalDiversity" ->
        (() => Streams.lexicalDiversitySnapshot(spark, never)),
      "noveltyCurve" -> (() => Streams.noveltyCurveSnapshot(spark, never)),
      "noveltyCurveExact" ->
        (() => Streams.noveltyCurveExactSnapshot(spark, never)),
      "splitGuard" -> (() => Streams.splitGuardSnapshot(spark, never)),
      "rateAnomaly" -> (() => Streams.rateAnomalySnapshot(spark, never)))
    val bad = readers.flatMap { case (name, read) =>
      try {
        val n = read().count()
        if (n == 0L) None else Some(s"$name: $n rows")
      } catch { case e: Exception => Some(s"$name: ${e.getClass.getSimpleName}") }
    }
    assert(bad.isEmpty, bad.mkString("not poll-safe before first commit: ", "; ", ""))
    assert(!new java.io.File(never).exists(),
      "a snapshot poll must not create the log it reads")
  }
}
