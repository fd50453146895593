package graft.streaming

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Delta-log corpus mode for [[IndexMaintenance]] (`compactEvery > 0`):
  * a micro-batch writes only its own rows (inserts + tombstones), reads
  * fold the chain onto the newest base, every m-th commit compacts.
  * The oracle throughout is FULL-rewrite mode — already pinned
  * bit-for-bit against the explicit batch fold by
  * IndexMaintenanceStreamSpec — fed the identical CDC stream: the two
  * modes must be indistinguishable through `readState`. On top of
  * parity: the on-disk layout (delta versions carry `cdelta/`, bases
  * `corpus/`), chain-aware GC (a kept delta's base survives the count
  * window; compaction advances the cutoff), order-aware resolution
  * (delete-then-reinsert yields the reinserted vector), replay
  * idempotence, and the lagging-lazy-reader survival that full mode
  * documents as a hazard. */
class DeltaCorpusLogSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val k = 3

  private def vec(i: Int): Seq[Double] =
    Seq.tabulate(8)(j => ((i * 31 + j * 7) % 97) / 10.0)

  private def corpusDf(ids: Seq[Int]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
  }

  private lazy val base = corpusDf(0 until 40).localCheckpoint()
  private lazy val g0 = graft.ops.Similarity
    .knnGraph(base, "vec_id", "embedding", k).localCheckpoint()

  private val b1 = (100 to 104).map(i => Cdc("I", i.toLong, vec(i)))
  private val b2 = Seq(Cdc("D", 7L, Seq.empty), Cdc("D", 19L, Seq.empty)) ++
    (105 to 107).map(i => Cdc("I", i.toLong, vec(i)))
  private val b3 = Seq(Cdc("D", 101L, Seq.empty), Cdc("I", 108L, vec(108)))

  private def freshState(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-dlog-$tag").toString
    IndexMaintenance.init(d, base, g0)
    d
  }

  private def apply(dir: String, id: Long, b: Seq[Cdc], every: Int): Unit = {
    import spark.implicits._
    IndexMaintenance.applyBatch(b.toDF(), id, dir, k, compactEvery = every)
  }

  private def corpusRows(c: DataFrame): Seq[(Long, Seq[Double])] =
    c.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)

  private def edges(g: DataFrame): Seq[(Long, Long, Long, Long)] =
    g.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted

  private def versionDirs(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).get
      .filter(f => f.isDirectory && f.getName.startsWith("v") &&
        !f.getName.contains(".tmp")).map(_.getName).toSeq.sorted

  private def payload(dir: String, v: String): String = {
    val d = new File(dir, v)
    val has = Seq("corpus", "cdelta").filter(s => new File(d, s).isDirectory)
    assert(has.size == 1, s"$v carries ${has.mkString("+")}")
    has.head
  }

  test("delta mode equals full mode bit-for-bit through readState, and " +
    "delta versions carry cdelta/ while their base survives the GC count " +
    "window") {
    val full = freshState("full"); val dlog = freshState("delta")
    Seq(full -> 0, dlog -> 10).foreach { case (d, m) =>
      apply(d, 0L, b1, m); apply(d, 1L, b2, m)
    }
    val (fc, fg) = IndexMaintenance.readState(spark, full)
    val (dc, dg) = IndexMaintenance.readState(spark, dlog)
    assert(corpusRows(dc) == corpusRows(fc), "corpus diverged from full mode")
    assert(edges(dg) == edges(fg), "graph diverged from full mode")
    // full mode: GC kept {v0, v1}; delta mode: v0/v1 are deltas whose
    // base is v-1, so the chain cutoff keeps it despite keepVersions=2
    assert(versionDirs(full) == Seq("v0", "v1"))
    assert(versionDirs(dlog) == Seq("v-1", "v0", "v1"))
    assert(payload(dlog, "v-1") == "corpus")
    assert(payload(dlog, "v0") == "cdelta")
    assert(payload(dlog, "v1") == "cdelta")
  }

  test("compactEvery=2 compacts on schedule, resolution equals full mode " +
    "across the compaction, and GC advances to the new base's chain") {
    val full = freshState("full2"); val dlog = freshState("delta2")
    Seq(full -> 0, dlog -> 2).foreach { case (d, m) =>
      apply(d, 0L, b1, m); apply(d, 1L, b2, m); apply(d, 2L, b3, m)
    }
    // v0 delta (chain 1 < 2), v1 compacted base (chain would reach 2),
    // v2 delta on the new base
    assert(payload(dlog, "v1") == "corpus")
    assert(payload(dlog, "v2") == "cdelta")
    // GC after v2: count-kept {v2, v1}, oldest kept v1 IS a base →
    // cutoff v1; the pre-compaction chain (v-1, v0) is reclaimed
    assert(versionDirs(dlog) == Seq("v1", "v2"))
    val (fc, fg) = IndexMaintenance.readState(spark, full)
    val (dc, dg) = IndexMaintenance.readState(spark, dlog)
    assert(corpusRows(dc) == corpusRows(fc))
    assert(edges(dg) == edges(fg))
  }

  test("order-aware fold: delete-then-reinsert across delta batches " +
    "resolves to exactly one live row carrying the reinserted vector") {
    val dlog = freshState("reins")
    val newVec = vec(777)
    apply(dlog, 0L, Seq(Cdc("D", 7L, Seq.empty)), 10)
    apply(dlog, 1L, Seq(Cdc("I", 7L, newVec)), 10)
    val (c, g) = IndexMaintenance.readState(spark, dlog)
    val rows7 = corpusRows(c.where(col("vec_id") === 7L))
    assert(rows7 == Seq((7L, newVec)),
      s"id 7 must resolve to the batch-1 vector, got $rows7")
    assert(c.count() == 40, "reinsert must not change cardinality")
    // the graph was maintained through the verbs: id 7 has a live list
    assert(g.where(col("vid") === 7L).count() == k)
  }

  test("checkpoint replay in delta mode is a no-op: no duplicate delta " +
    "version, state byte-identical") {
    val dlog = freshState("replay")
    apply(dlog, 0L, b1, 10)
    val before = corpusRows(IndexMaintenance.readState(spark, dlog)._1)
    apply(dlog, 0L, b1, 10) // crash-after-commit replay
    assert(IndexMaintenance.latestVersion(dlog).contains(0L))
    assert(versionDirs(dlog) == Seq("v-1", "v0"))
    assert(corpusRows(IndexMaintenance.readState(spark, dlog)._1) == before)
    apply(dlog, 1L, b2, 10) // and the next id still applies on top
    assert(IndexMaintenance.latestVersion(dlog).contains(1L))
  }

  test("the delta-fold read plan broadcasts the small chain instead of " +
    "shuffling the base (AQE's call — the join is deliberately unhinted)") {
    val dlog = freshState("plan")
    apply(dlog, 0L, b1, 10); apply(dlog, 1L, b2, 10)
    val c = IndexMaintenance.readState(spark, dlog)._1
    c.collect() // force AQE to finalize the adaptive plan
    val p = c.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      s"small-chain fold should broadcast, plan was:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "small-chain fold must not sort-merge (shuffles the base)")
  }

  test("materializeFold = false (the lake-scale no-materialize escape) " +
    "produces state bit-identical to the default per-batch fold") {
    import spark.implicits._
    val dflt = freshState("idflt"); val ident = freshState("ident")
    for ((b, i) <- Seq(b1, b2, b3).zipWithIndex) {
      IndexMaintenance.applyBatch(b.toDF(), i.toLong, dflt, k,
        compactEvery = 10)
      IndexMaintenance.applyBatch(b.toDF(), i.toLong, ident, k,
        compactEvery = 10, materializeFold = false)
    }
    val (cd, gd) = IndexMaintenance.readState(spark, dflt)
    val (ci, gi) = IndexMaintenance.readState(spark, ident)
    assert(corpusRows(cd) == corpusRows(ci),
      "identity fold mode diverged the corpus from the materialized mode")
    assert(edges(gd) == edges(gi),
      "identity fold mode diverged the graph from the materialized mode")
    // its read-side cost shape is the pinned small-chain broadcast plan
    // (the 'delta-fold read plan broadcasts' test above); its measured
    // price is in IndexMaintenance.applyBatch's doc
  }

  test("duplicate insert ids within one batch fail fast — full mode would " +
    "union both rows while the delta fold keeps one arbitrarily, a silent " +
    "mode divergence") {
    import spark.implicits._
    val dlog = freshState("dupins")
    val bad = Seq(Cdc("I", 300L, vec(300)), Cdc("I", 300L, vec(301)))
    intercept[IllegalArgumentException] {
      IndexMaintenance.applyBatch(bad.toDF(), 0L, dlog, k, compactEvery = 10)
    }
    intercept[IllegalArgumentException] { // and in full mode too
      IndexMaintenance.applyBatch(bad.toDF(), 0L, dlog, k)
    }
    assert(IndexMaintenance.latestVersion(dlog).contains(-1L),
      "rejected batches must leave committed state untouched")
    // a repeated TOMBSTONE is harmless (dedup'd before the verbs): both
    // modes resolve id 7 dead exactly once
    val rep = Seq(Cdc("D", 7L, Seq.empty), Cdc("D", 7L, Seq.empty))
    IndexMaintenance.applyBatch(rep.toDF(), 0L, dlog, k, compactEvery = 10)
    val c = IndexMaintenance.readState(spark, dlog)._1
    assert(c.where(col("vec_id") === 7L).count() == 0)
    assert(c.count() == 39)
  }

  test("a lazy reader lagging TWO commits still resolves in delta mode " +
    "(the chain keeps its base alive) — the documented full-mode hazard") {
    val dlog = freshState("lag")
    apply(dlog, 0L, b1, 10)
    val (lazyCorpus, lazyGraph) = IndexMaintenance.readState(spark, dlog)
    apply(dlog, 1L, b2, 10); apply(dlog, 2L, b3, 10)
    // v0's chain is {v-1 base, v0}; both survive because v1/v2 are
    // deltas on the same base — the collect must not FileNotFound
    assert(lazyCorpus.count() == 45)
    assert(lazyGraph.count() > 0)
  }

  test("a file:-scheme stateDir runs the whole protocol through the Hadoop " +
    "FileSystem backend — init, delta commits, compaction, chain GC, " +
    "FileContext pointer swaps, replay — byte-equal to a plain-path run") {
    import spark.implicits._
    val plain = freshState("fsref")
    val underlying = java.nio.file.Files
      .createTempDirectory("graft-dlog-fs").toString
    val fsDir = "file:" + underlying
    IndexMaintenance.init(fsDir, base, g0)
    assert(IndexMaintenance.latestVersion(fsDir).contains(-1L))
    Seq(plain, fsDir).foreach { d =>
      apply(d, 0L, b1, 3); apply(d, 1L, b2, 3); apply(d, 2L, b3, 3)
    }
    // compaction fired at v2 (chain: v-1 base, v0/v1 deltas). GC keeps
    // everything: the oldest count-kept version v1 is a DELTA whose base
    // is v-1, so the cutoff stays at v-1 — the chain-keeping rule,
    // exercised here through the FS listing/drop path. The underlying
    // dir is plain local disk, so layout asserts see it with java.io.
    assert(versionDirs(underlying) == Seq("v-1", "v0", "v1", "v2"))
    assert(payload(underlying, "v2") == "corpus", "v2 must be the compaction")
    assert(payload(underlying, "v0") == "cdelta")
    // no staging or pointer-temp residue from the FS publish path
    val resid = Option(new File(underlying).listFiles()).get
      .map(_.getName).filter(n => n.contains(".tmp"))
    assert(resid.isEmpty, s"staging residue: ${resid.mkString(",")}")
    // replay idempotence through the FS backend
    apply(fsDir, 2L, b3, 3)
    assert(IndexMaintenance.latestVersion(fsDir).contains(2L))
    // bit parity with the plain-path run
    val (pc, pg) = IndexMaintenance.readState(spark, plain)
    val (fc, fg) = IndexMaintenance.readState(spark, fsDir)
    assert(corpusRows(fc) == corpusRows(pc), "FS corpus diverged from plain")
    assert(edges(fg) == edges(pg), "FS graph diverged from plain")
  }

  test("a crashed publish leaves a torn version dir that the replay " +
    "replaces instead of adopting, and a stray FILE named v<digits> is " +
    "not read as a committed version") {
    import spark.implicits._
    val dlog = freshState("torn")
    apply(dlog, 0L, b1, 10)
    // simulate a crash mid-publish of v1 on a copy-rename scheme: the
    // pointer still says 0, but a PARTIAL v1 dir exists (junk content)
    val torn = new File(dlog, "v1"); torn.mkdirs()
    java.nio.file.Files.write(new File(torn, "garbage").toPath,
      "torn".getBytes)
    // a stray operator FILE that looks like a version must be ignored
    java.nio.file.Files.write(new File(dlog, "v99").toPath,
      "note to self".getBytes)
    assert(IndexMaintenance.latestVersion(dlog).contains(0L))
    // the replayed batch must commit a COMPLETE v1 over the torn one
    apply(dlog, 1L, b2, 10)
    assert(IndexMaintenance.latestVersion(dlog).contains(1L))
    assert(!new File(torn, "garbage").exists(),
      "torn leftover adopted instead of replaced")
    val (c, g) = IndexMaintenance.readState(spark, dlog)
    val full = freshState("tornref")
    apply(full, 0L, b1, 0); apply(full, 1L, b2, 0)
    val (fc, fg) = IndexMaintenance.readState(spark, full)
    assert(corpusRows(c) == corpusRows(fc))
    assert(edges(g) == edges(fg))
  }

  test("GC's keep window is directory-guarded like the read path: a stray " +
    "FILE named v<digits> between live versions neither consumes a " +
    "keepVersions slot nor is itself deleted") {
    import spark.implicits._
    val dlog = freshState("gcstray") // full mode: every version is a base
    IndexMaintenance.applyBatch(b1.toDF(), 0L, dlog, k, keepVersions = 3)
    IndexMaintenance.applyBatch(b2.toDF(), 1L, dlog, k, keepVersions = 3)
    val stray = new File(dlog, "v2")
    java.nio.file.Files.write(stray.toPath, "operator note".getBytes)
    IndexMaintenance.applyBatch(b3.toDF(), 3L, dlog, k, keepVersions = 3)
    // count-kept = {v3, v1, v0}: the stray FILE v2 must not take v0's
    // slot (that would GC a version inside the documented keep window);
    // cutoff v0 reclaims exactly v-1
    assert(versionDirs(dlog) == Seq("v0", "v1", "v3"))
    assert(stray.isFile, "GC deleted the stray operator file")
    assert(IndexMaintenance.readState(spark, dlog)._1.count() > 0)
  }

  test("a crashed COMPACTION (published base, pointer not swapped) does " +
    "not derail the replay's decision: the chain count reads only " +
    "committed state, so the replay compacts exactly as the first attempt") {
    val dlog = freshState("orphbase")
    apply(dlog, 0L, b1, 2) // delta v0, chain length 1 < 2
    // crashed compaction of v1: a published dir with a corpus/ child,
    // but the pointer still says 0 — counting it as newestBase would
    // make the replay write a DELTA and stretch the chain to
    // compactEvery deltas (the doc promises <= compactEvery - 1)
    val orphan = new File(new File(dlog, "v1"), "corpus"); orphan.mkdirs()
    java.nio.file.Files.write(new File(orphan, "part-junk").toPath,
      "x".getBytes)
    assert(IndexMaintenance.latestVersion(dlog).contains(0L))
    apply(dlog, 1L, b2, 2) // the replay
    assert(payload(dlog, "v1") == "corpus",
      "replay must compact like the crashed attempt, not write a delta")
    assert(!new File(orphan, "part-junk").exists(),
      "torn orphan content adopted instead of replaced")
    val full = freshState("orphref")
    apply(full, 0L, b1, 0); apply(full, 1L, b2, 0)
    assert(corpusRows(IndexMaintenance.readState(spark, dlog)._1) ==
      corpusRows(IndexMaintenance.readState(spark, full)._1))
  }

  test("streaming end-to-end with compactEvery matches full-mode batch " +
    "application (file source, AvailableNow incarnations, one checkpoint)") {
    import spark.implicits._
    val full = freshState("sfull")
    apply(full, 0L, b1, 0); apply(full, 1L, b2, 0)
    val dlog = freshState("sdelta")
    val src = java.nio.file.Files.createTempDirectory("graft-dlog-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-dlog-ckpt").toString
    val schema = "op STRING, vec_id LONG, embedding ARRAY<DOUBLE>"
    Seq(b1, b2).foreach { b =>
      b.toDF().coalesce(1).write.mode("append").json(src)
      val q = IndexMaintenance.graphMaintenanceStream(
        spark.readStream.schema(schema).json(src), dlog, k, ckpt,
        compactEvery = 10)
      assert(q.awaitTermination(120000), "incarnation did not finish in 120 s")
      q.stop()
    }
    assert(payload(dlog, "v0") == "cdelta")
    assert(payload(dlog, "v1") == "cdelta")
    val (fc, fg) = IndexMaintenance.readState(spark, full)
    val (dc, dg) = IndexMaintenance.readState(spark, dlog)
    assert(corpusRows(dc) == corpusRows(fc))
    assert(edges(dg) == edges(fg))
  }
}
