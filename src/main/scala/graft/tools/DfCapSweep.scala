package graft.tools

import org.apache.spark.sql.functions.col
import graft.operators.Dedup
import graft.sources.Tables

/** Empirical sizing of [[Dedup.DefaultMaxShingleDf]]: for each candidate
  * cap, measure the exact-Jaccard near-dup pass (q22's shape) on the
  * documents table and score its pair set against the uncapped ground
  * truth. The cap is a SEMANTIC knob (Jaccard of the capped shingle sets),
  * so this reports recall AND precision, not just cost — a cap that is
  * cheap but invents or loses pairs is mis-sized. Results are recorded in
  * BASELINE.md; run with SPARK_GRAFT_SF_DIR to re-measure.
  */
object DfCapSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.table(spark, sfDir, "documents").select("doc_id", "text")

    def pairsAt(maxDf: Int): (Set[(Long, Long)], Double) = {
      val t0 = System.nanoTime()
      val pairs = Dedup.jaccardPairs(docs, threshold = 0.8, maxDf = maxDf)
        .select(col("i"), col("j")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val secs = (System.nanoTime() - t0) / 1e9
      graft.CacheRegistry.releaseAll()
      (pairs, secs)
    }

    pairsAt(1000) // warm-up: JIT/codegen/shuffle spin-up outside the measurement
    val (truth, truthSecs) = pairsAt(0) // uncapped ground truth
    println(f"uncapped: ${truth.size} pairs, $truthSecs%.2f s")
    for (cap <- Seq(100, 300, 1000, 3000, 10000)) {
      val (p, secs) = pairsAt(cap)
      val hit = (p & truth).size
      val recall = if (truth.isEmpty) 1.0 else hit.toDouble / truth.size
      val precision = if (p.isEmpty) 1.0 else hit.toDouble / p.size
      println(f"maxDf=$cap%5d: ${p.size}%4d pairs, recall=$recall%.4f, " +
        f"precision=$precision%.4f, $secs%.2f s")
    }
    spark.stop()
  }
}
