package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase.spark

/** The Jaccard verify has two footprint-gated strategies (TextOps.
  * jaccardCountsGated), both running the r20 zero-aggregation array-join plan
  * (jaccardCountsFromArrays): cached full-corpus shingle arrays below the
  * gate, candidate-restricted scan-local arrays above it. The gate flips on
  * the documents footprint, so the oracle suite (sf0.01) only ever executes
  * the cached branch — this spec executes every branch directly on the small
  * corpora and demands row-for-row equality against the pre-r20 EXPLODED
  * formulation (shingle-level intersection join + groupBy counts), which is
  * the whole correctness argument for both the gate and the array rewrite:
  * any shingle representation covering the candidate docs yields identical
  * (i, ca, cb) counts.
  */
class JaccardGateSpec extends AnyFunSuite {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("id_a", "id_b")
      .selectExpr("id_a", "id_b", "cast(i as long) as i",
        "cast(ca as long) as ca", "cast(cb as long) as cb")
      .collect().map(_.toString).toSeq

  test("array verifies (cached, restricted) == exploded baseline") {
    val s = spark
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val cand = TextOps.candidatePairs(s, dir)
      // ground truth: the pre-r20 exploded intersection-join + groupBy form
      val exploded = rows(TextOps.jaccardCountsExplodedForTest(s, dir, cand))
      // the shipped below-gate branch: array join over the cached doc-level frame
      val cachedArrays = rows(TextOps.jaccardCountsFromCachedForTest(s, dir, cand))
      // the shipped above-gate branch: array join over the candidate-doc slice
      val restricted = rows(TextOps.jaccardCountsRestricted(s, dir, cand))
      assert(cachedArrays === exploded, s"cached-array branch disagrees with exploded on $dir")
      assert(restricted === exploded, s"restricted-array branch disagrees with exploded on $dir")
      assert(exploded.nonEmpty, s"vacuous compare on $dir — no candidate pairs")
    }
  }
}
