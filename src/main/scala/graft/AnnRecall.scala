package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.signBucket
import graft.operators.Similarity

/** Recall-vs-cost curves for the ANN family: each approximate variant
  * (single-probe LSH, multi-probe LSH, IVF) against the brute-force
  * exact top-k ground truth, on the real embeddings table. Turns the
  * standing claim "nbits/nprobe trade recall for cost" into numbers
  * (PLANS.md "ANN recall").
  *
  * recall@k = |approx hits ∩ exact hits| / |exact hits|, aggregated
  * over all queries (exact hits = k per query, so this is also mean
  * per-query recall).
  *
  *   sbt "runMain graft.AnnRecall /root/repo/testdata/sf1 [nQueries=100] [k=10]"
  */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/testdata/sf1")
    val nQ = if (args.length > 1) args(1).toInt else 100
    val k = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val e = Tables.load(spark, dir, "embeddings")
    val queries = e.filter(col("vec_id") < nQ)
    val corpusN = e.count()

    def pairs(df: DataFrame): DataFrame =
      df.select(col("query_id"), col("neighbor_id"))

    // ground truth, collected once (nQ * k rows)
    val t0 = System.nanoTime()
    val truth = pairs(Similarity.bruteForceTopK(
      queries, e, "vec_id", "embedding", k)).cache()
    val nTruth = truth.count()
    val bruteSec = (System.nanoTime() - t0) / 1e9

    // scored-pairs per variant: the work that actually scales with
    // corpus size (wall-clock at this sf is dominated by the ~0.2 s
    // per-action floor). Computed from bucket histograms — the same
    // blocking arithmetic the operators use, never the pairs
    // themselves. Brute force scores nQ × corpus pairs by definition.
    def lshPairs(nbits: Int, flips: Seq[Int]): Long = {
      val qb = queries
        .select(signBucket(col("embedding"), nbits).as("qb0"))
        .withColumn("flip",
          explode(array(flips.map(lit): _*)))
        .select((col("qb0").bitwiseXOR(col("flip"))).as("bucket"))
        .groupBy("bucket").count().withColumnRenamed("count", "nq")
      val cb = e.select(signBucket(col("embedding"), nbits).as("bucket"))
        .groupBy("bucket").count().withColumnRenamed("count", "nc")
      qb.join(cb, "bucket")
        .agg(sum(col("nq") * col("nc"))).collect()(0).getLong(0)
    }
    def hamming(nbits: Int, h: Int): Seq[Int] =
      (0 until (1 << nbits)).filter(m => Integer.bitCount(m) <= h)

    println(s"# ANN recall@$k @ $dir ($nQ queries, corpus $corpusN, " +
      f"brute-force ground truth $bruteSec%.2f s, " +
      s"scored ${nQ * corpusN} pairs)")
    println(f"${"variant"}%-28s ${"recall"}%8s ${"time_s"}%8s " +
      f"${"scored_pairs"}%13s ${"vs_brute"}%9s")

    def report(name: String, scored: Long, mk: () => DataFrame): Unit = {
      mk() // warm
      val t = System.nanoTime()
      val got = pairs(mk())
      val hits = got.join(truth, Seq("query_id", "neighbor_id")).count()
      val sec = (System.nanoTime() - t) / 1e9
      println(f"$name%-28s ${hits.toDouble / nTruth}%8.3f $sec%8.2f " +
        f"$scored%13d ${scored.toDouble / (nQ * corpusN)}%9.4f")
    }

    for (nbits <- Seq(4, 6, 8)) {
      report(s"singleProbe nbits=$nbits", lshPairs(nbits, Seq(0)), () =>
        Similarity.lshTopKMultiProbe(queries, e, "vec_id", "embedding", k,
          nbits, maxHamming = 0))
      report(s"multiProbe nbits=$nbits H=1",
        lshPairs(nbits, hamming(nbits, 1)), () =>
        Similarity.lshTopKMultiProbe(
          queries, e, "vec_id", "embedding", k, nbits))
    }
    report("multiProbe nbits=8 H=2", lshPairs(8, hamming(8, 2)), () =>
      Similarity.lshTopKMultiProbe(
        queries, e, "vec_id", "embedding", k, 8, maxHamming = 2))
    val centroids = Similarity.trainCentroids(
      e, "vec_id", "embedding", k = 8, iters = 3)
      .cache()
    centroids.count()
    // IVF scored pairs: run the search with k = corpus size, so the
    // rank filter keeps every pair the bucket join scored
    def ivfPairs(nprobe: Int): Long =
      Similarity.ivfTopK(queries, e, "vec_id", "embedding",
        corpusN.toInt, centroids, nprobe).count()
    for (nprobe <- Seq(1, 2, 4)) {
      val scored = ivfPairs(nprobe)
      report(s"ivfTopK k=8 nprobe=$nprobe", scored, () =>
        Similarity.ivfTopK(queries, e, "vec_id", "embedding", k,
          centroids, nprobe))
    }
    spark.stop()
  }
}
