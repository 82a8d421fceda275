package graft.tools

/** Wall-time probe for production-sized unigram-LM vocab training — the
  * BpeBench sibling: seed → Viterbi-EM → prune rounds at a real vocab
  * target over either a documents table or the same synthetic Zipf-ish
  * corpus BpeBench builds (the driver corpora hold ~31 distinct words, so
  * a production vocab needs the synthetic generator). The claims this
  * measures: (a) after the ONE corpus pass every round is
  * dictionary-sized, so 10× the docs ≈ the corpus-pass delta only;
  * (b) rounds scale with ln(seed/vocab)/ln(4/3), not vocab size.
  *
  * Usage: runMain graft.tools.UnigramBench
  *   [sfDir|synthetic[:V[:D]]] [vocabSize] [seedMultiCap] [emIters]
  */
object UnigramBench {
  def main(a: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = a.headOption.getOrElse("/root/testdata/sf0.01")
    val vocab = a.lift(1).map(_.toInt).getOrElse(8192)
    val cap = a.lift(2).map(_.toInt).getOrElse(4 * vocab)
    val em = a.lift(3).map(_.toInt).getOrElse(2)
    val docs = BpeBench.corpus(spark, dir)
    val t0 = System.nanoTime()
    val n = graft.operators.TextAnalysis
      .unigramLmTrain(docs, "text", vocab, seedMaxLen = 4,
        seedMultiCap = cap, emIters = em).count()
    println(f"[ulm-bench] vocab=$n cap=$cap em=$em " +
      f"wall=${(System.nanoTime() - t0) / 1e9}%.1fs dir=$dir")
    spark.stop()
  }
}
