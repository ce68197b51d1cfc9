package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.functions.SketchExpressions

/** LSH recall audit: compares [[Dedup.minhashNearDuplicates]]'s pair set
  * against a brute-force all-pairs word-shingle Jaccard computation on
  * the documents table — the operational check that a corpus's
  * similarity distribution sits where the (numHashes, bands) tuning
  * assumes. Brute force is the broadcast-nested-loop shape (test scale
  * only — quadratic by construction).
  *
  * Usage: runMain graft.tools.RecallCheck <sfDir> [threshold=0.8]
  */
object RecallCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val threshold = if (args.length > 1) args(1).toDouble else 0.8
    val spark = graft.LocalTuning.session(32).getOrCreate()
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val sets = docs.select(col("doc_id").as("id"),
      SketchExpressions.wordShingleHashes(
        Dedup.tokens(col("text")), 3).as("sh"))
    val a = sets.select(col("id").as("id_a"), col("sh").as("sh_a"))
      .repartition(spark.sparkContext.defaultParallelism, col("id_a"))
    val b = broadcast(sets.select(col("id").as("id_b"), col("sh").as("sh_b")))
    val exact = a.join(b, col("id_a") < col("id_b"))
      .where(SketchExpressions.jaccardSorted(col("sh_a"), col("sh_b"))
        >= threshold)
      .select("id_a", "id_b")
    val lsh = Dedup.minhashNearDuplicates(docs, "doc_id", "text",
        shingleWidth = 3, numHashes = 128, bands = 16,
        threshold = threshold)
      .select("id_a", "id_b")
    // both frames feed three actions — persist or the O(n²) brute force
    // and the LSH pipeline recompute per action
    exact.persist(); lsh.persist()
    val nExact = exact.count()
    val missed = exact.except(lsh).collect()
    val extra = lsh.except(exact).count() // must be 0: pairs are verified
    println(s"[recall] threshold=$threshold exact_pairs=$nExact " +
      s"lsh_missed=${missed.length} lsh_extra=$extra")
    missed.foreach(r => println(s"[recall] MISSED ${r.getLong(0)} ${r.getLong(1)}"))
    spark.stop()
    if (missed.nonEmpty || extra > 0) sys.exit(1)
  }
}
