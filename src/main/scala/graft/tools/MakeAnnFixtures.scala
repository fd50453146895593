package graft.tools

/** Regression-fixture generator for the seeded-deterministic sketch/ANN/ML
  * queries (the declared no-oracle set). Their semantic bounds live in the
  * recall/accuracy specs; what those bounds CANNOT see is a silent recall
  * regression that stays above the threshold. A committed expected-result
  * fixture (the q46 pattern) turns the driver's correctness gate into that
  * change detector: the oracle SQL for each of these queries reads the
  * fixture parquet back, so any drift in hashing, seeding, quantization or
  * tie-breaking flips a green row red.
  *
  * The fixtures are PINNED to /root/testdata/sf0.01 — the driver gate's
  * scale factor. Unlike the SF-parametric SQL oracles these rows are only
  * meaningful at that SF (the recall specs remain the SF-independent
  * semantic contract). Determinism prerequisites, per query class:
  * hash-only kernels (q34/q35), fixed-seed LSH/k-means (q36/q55/q75/q76/
  * q102), commutative HLL register merge (q09), fixed-seed LBFGS over
  * stable file-split partitioning (q39), fit-once TF-IDF (q42).
  * (Historical note: GK approx_percentile was the one order-sensitive
  * exception until round 10 replaced q68's body with the exact
  * binary-search quantile — the declared catalog no longer has an
  * order-sensitive row.)
  *
  * Run: sbt "runMain graft.tools.MakeAnnFixtures"
  * (the session is graft.Verify's, [[graft.Graft.localBuilder]], so the
  * fixture is produced by the exact plan the gate will replay).
  */
object MakeAnnFixtures {
  val FixtureQueries: Seq[String] = Seq(
    "q09_approx_distinct", "q34_minhash_neardup", "q35_simhash_neardup",
    "q36_ann_lsh", "q39_ml_score", "q42_tfidf_retrieval", "q55_ann_ivf",
    "q75_ann_pq", "q76_ann_ivfpq", "q102_semdedup", "q121_bpe_merges",
    "q125_bpe_encode", "q128_mmr_select", "q135_compression_ratio",
    // StrictMath fixed-point DCT: bit-deterministic on every platform
    "q168_phash_neardup",
    // integer distances + fixed round budget: pure corpus function
    "q169_beam_ann",
    // same contract, external-vector serving form
    "q170_beam_ann_vectors",
    // NN-descent build: hash init + total-order cuts + fixed rounds
    "q171_knn_graph_approx",
    // walk over the persisted q171-style graph: same purity argument
    "q172_beam_ann_served",
    // external vectors over the same persisted graph
    "q173_beam_ann_vectors_served",
    // walk placement + exact delta scan + total-order merges: pure
    // function of (graph, base, delta)
    "q174_knn_graph_insert",
    // broadcast drops + symmetric 2-hop repair + total-order cuts:
    // pure function of (graph, corpus, deletes)
    "q175_knn_graph_delete",
    // warm-started NN-descent over deterministic shard graphs: pure
    // function of the union corpus
    "q177_knn_graph_merge",
    // exact-BigInt Viterbi EM: integer counts + total-order ranking
    "q181_unigram_vocab",
    // the same vocabulary replayed by the same exact segmenter
    "q182_unigram_encode")

  val SfDir = "/root/testdata/sf0.01"
  val OutDir = "src/test/resources/annfix"

  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.localBuilder().getOrCreate()
    new java.io.File(OutDir).mkdirs()
    FixtureQueries.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, SfDir)
      // single file, no _SUCCESS/CRC clutter: the committed artifact is
      // one parquet file DuckDB reads back via read_parquet
      val tmp = s"$OutDir/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for $name"))
      val dest = new java.io.File(s"$OutDir/${name}_expected_sf001.parquet")
      java.nio.file.Files.copy(part.toPath, dest.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      println(s"FIXTURE $name -> ${dest.getPath} (${df.count()} rows)")
    }
    spark.stop()
  }
}
