package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Pins the st23 incremental-closure ingest loop: the empty-seeded
  * ingest index accepts appends and probes find cross-batch pairs, and
  * the full streaming loop's maintained labels equal the one-shot
  * closure for a 3-batch split (the d09-oracle claim, on a synthetic
  * corpus small enough to hand-check).
  */
class St23ClosureSpec extends SparkSpec {
  import spark.implicits._

  test("empty-seeded ingest index: append then probe finds cross-batch pairs") {
    val index = "st23dbg"
    val Seq(bandT, shT) = Dedup.jaccardIndexTables(index)
    graft.util.TableRetention.sweep(spark, "st23dbg")
    val docs = (1L to 20L).map { i =>
      (i, (0 until 40).map(j => s"w${(i * 37 + j * 13) % 200}_$j").mkString(" "))
    }
    val b1 = docs.filter(_._1 % 2 == 0).toDF("doc_id", "text")
    // b2 = near-dup mutations of b1 (first token dropped), ids offset
    val b2 = b1.select((col("doc_id") + 100L).as("doc_id"),
      expr("substring(text, instr(text, ' ') + 1)").as("text"))
    Dedup.buildJaccardIngestIndex(b1.limit(0), "doc_id", "text", index)
    val (p1, prep1) = Dedup.incrementalJaccardPairsIndexed(spark, index, b1,
      "doc_id", "text")
    assert(p1.count() == 0, "no near-dups were planted within batch 1")
    Dedup.appendJaccardIngestIndex(spark, index, prep1)
    assert(spark.table(bandT).count() == 160 && spark.table(shT).count() == 10,
      "append did not land in the index tables")
    val p2 = Dedup.incrementalJaccardPairsIndexed(spark, index, b2, "doc_id", "text")._1
    val pairs = p2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(b1.collect().map(_.getLong(0)).forall(i => pairs.contains((i + 100L, i))),
      s"cross-batch pairs missing: $pairs")
    // re-probing the appended ids is refused: the probe is the loop's one
    // duplicate-id guard
    val e = intercept[IllegalArgumentException](
      Dedup.incrementalJaccardPairsIndexed(spark, index, b1, "doc_id", "text"))
    assert(e.getMessage.contains("globally unique"), e.getMessage)
    graft.util.TableRetention.sweep(spark, "st23dbg")
  }

  test("st23Ingest streaming loop == one-shot closure on synthetic batches") {
    val docs = (1L to 20L).map { i =>
      (i, (0 until 40).map(j => s"w${(i * 37 + j * 13) % 200}_$j").mkString(" "))
    }
    val all = docs.toDF("doc_id", "text")
      .unionByName(docs.toDF("doc_id", "text")
        .select((col("doc_id") + 100L).as("doc_id"),
          expr("substring(text, instr(text, ' ') + 1)").as("text")))
    val batches = Seq(
      all.where(col("doc_id") <= 100L && col("doc_id") % 2 === 0),
      all.where(col("doc_id") <= 100L && col("doc_id") % 2 =!= 0),
      all.where(col("doc_id") > 100L))
    val loop = graft.streaming.IngestLoop.local(spark, "st23dbg_loop", "")
    val got = graft.queries.PipelineQueries
      .st23Ingest(spark, batches, loop, "st23dbg2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val pairs = Dedup.ngramJaccardPairs(all, "doc_id", "text")
    val want = Dedup.clusters(all, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want,
      s"streaming closure != one-shot: diff=${
        (got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
  }
}
