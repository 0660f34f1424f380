package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** The SURVEY §5 scaling claim, exercised: hyperplane count is the
  * lever that keeps LSH bucket occupancy — and with it the quadratic
  * within-bucket candidate generation — bounded as the corpus grows.
  */
class LshScaleSpec extends SparkTestBase {

  test("more hyperplanes keep bucket occupancy bounded on a 20x corpus") {
    val base = sources.Tables.embeddings(spark, sfDir)
    // 20x the corpus by jittering vec_ids (embeddings repeat; bucket
    // occupancy is what's under test, not semantics)
    val big = (0 until 20).map(i => base.withColumn("vec_id", col("vec_id") + lit(i * 100000)))
      .reduce(_ unionAll _)

    def maxOccupancy(nPlanes: Int): Long = {
      val planes = operators.OracleSql.makePlanes(nPlanes)
      big.select(Similarity.bucketOf(col("embedding"), planes).as("b"))
        .groupBy(col("b")).count()
        .agg(max(col("count"))).head().getLong(0)
    }

    val occ6 = maxOccupancy(6)
    val occ10 = maxOccupancy(10)
    // 2^10 buckets must spread the same corpus far thinner than 2^6 —
    // the within-bucket O(occ²) candidate work drops superlinearly.
    // (The 20x replication puts exact duplicates in the same bucket by
    // construction, so the cut is bounded by the duplication factor;
    // 2x on max occupancy still means 4x less within-bucket work.)
    assert(occ10 * 2 <= occ6,
      s"10 planes should cut max occupancy >=2x vs 6 planes: occ6=$occ6 occ10=$occ10")
  }

  test("planesFor wires plane count to corpus size with nesting") {
    // smallest p >= 6 with 32*2^p >= n — expected occupancy stays <= ~32
    assert(Similarity.pFor(100) == 6)
    assert(Similarity.pFor(2048) == 6)
    assert(Similarity.pFor(2049) == 7)
    assert(Similarity.pFor(10000) == 9)
    assert(Similarity.pFor(1000000) == 15)
    // plane sets nest: growing the corpus only SPLITS buckets (the
    // seed-42 stream is a prefix), never reshuffles existing ones
    val p6 = operators.OracleSql.makePlanes(6)
    val p9 = operators.OracleSql.makePlanes(9)
    assert(p9.take(6) == p6)
  }
}
