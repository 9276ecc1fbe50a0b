package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Dedup.bandedPairs]], the candidate join every near-duplicate
  * operator shares: one row per pair however many bands collide,
  * probe pairs canonicalized, and the verify predicate applied.
  */
class BandedPairsSpec extends SparkSpec {
  import spark.implicits._

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq

  test("a pair that collides in every band comes back exactly once") {
    // docs 1 and 2 share all three band keys; doc 3 shares none
    val rows = Seq(
      (1L, 0, "x"), (1L, 1, "y"), (1L, 2, "z"),
      (2L, 0, "x"), (2L, 1, "y"), (2L, 2, "z"),
      (3L, 0, "p"), (3L, 1, "q"), (3L, 2, "r"))
      .toDF("doc_id", "band", "key")
    assert(pairs(Dedup.bandedPairs(rows, "doc_id", Seq("band", "key"))) ==
      Seq(1L -> 2L))
  }

  test("probe form: two rows that probe each other come back once, " +
      "as (min, max)") {
    // doc 5 sits in bucket 10, doc 2 in bucket 20; each probes its own
    // bucket and the other's, so the join finds the pair from both ends
    val index = Seq((5L, 0, 10), (2L, 0, 20)).toDF("doc_id", "tbl", "bucket")
    val probes = Seq((5L, 0, 10), (5L, 0, 20), (2L, 0, 20), (2L, 0, 10))
      .toDF("doc_id", "tbl", "bucket")
    val got = Dedup.bandedPairs(index, "doc_id", Seq("tbl", "bucket"),
      probes = Some(probes))
    assert(pairs(got) == Seq(2L -> 5L))
  }

  test("a pair the verify predicate rejects is absent") {
    // all three share the one key; only pairs whose weights sum below
    // 10 survive, so (1, 2) stays and (1, 3), (2, 3) go
    val rows = Seq((1L, 7, 1), (2L, 7, 2), (3L, 7, 9))
      .toDF("doc_id", "key", "w")
    val got = Dedup.bandedPairs(rows, "doc_id", Seq("key"),
      carry = Seq((col("a.w") + col("b.w")).as("s")),
      verify = col("s") < 10)
    assert(got.select("doc_a", "doc_b", "s").as[(Long, Long, Int)]
      .collect().toSeq == Seq((1L, 2L, 3)))
  }
}
