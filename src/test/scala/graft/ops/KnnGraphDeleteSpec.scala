package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.rel.Tables

/** kNN-graph delete with local repair (declared q175): tombstone-free
  * output, repaired-list recall against an exact rebuild on the
  * survivors, per-edge distance exactness, the touched-set bound
  * (only lists that lost an edge change, byte-identical pass-through
  * for the rest), determinism across partitionings, and the torn-list
  * hand case. The base graph is the EXACT build so every gate
  * isolates the delete/repair machinery from the approximate build
  * (the declared q175 composes with it; its fixture covers that). */
class KnnGraphDeleteSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val dir = SparkTestBase.Sf0001
  private val k = 5

  private lazy val emb = Tables.load(spark, dir, "embeddings")
  private lazy val fullGraph =
    Similarity.knnGraph(emb, "vec_id", "embedding", k)
  private lazy val fullRows = fullGraph.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
  // ~10% retraction batch
  private lazy val delIds = emb
    .where(pmod(col("vec_id").cast("long"), lit(10L)) === lit(7L))
    .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSeq.sorted
  private lazy val deletedRows = Similarity.knnGraphDelete(
      fullGraph, emb, "vec_id", "embedding", delIds, k).collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
  private lazy val survivors = emb
    .where(pmod(col("vec_id").cast("long"), lit(10L)) =!= lit(7L))
  private lazy val rebuiltSets = edgeSets(
    Similarity.knnGraph(survivors, "vec_id", "embedding", k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))))

  private def edgeSets(rows: Seq[(Long, Long, Long, Long)]): Map[Long, Set[Long]] =
    rows.groupBy(_._1).map { case (vid, rs) => vid -> rs.map(_._3).toSet }

  test("tombstone-free: no deleted id survives as a node or a neighbor, " +
    "and every survivor keeps a list") {
    val del = delIds.toSet
    assert(!deletedRows.exists(r => del(r._1) || del(r._3)),
      "a deleted id survives in the edge table")
    val survivorIds = survivors.select(col("vec_id").cast("long"))
      .collect().map(_.getLong(0)).toSet
    assert(deletedRows.map(_._1).toSet == survivorIds,
      "survivor node set does not match the post-delete corpus")
  }

  test("repaired recall vs an exact rebuild on the survivors >= 0.9 " +
    "(torn lists re-placed by the beam walk + mourner reconnection)") {
    val got = edgeSets(deletedRows.toSeq)
    val del = delIds.toSet
    val torn = fullRows.filter(r => !del(r._1) && del(r._3)).map(_._1).toSet
    val tornRecalls = torn.toSeq.map { vid =>
      got(vid).intersect(rebuiltSets(vid)).size.toDouble / rebuiltSets(vid).size
    }
    val allRecalls = rebuiltSets.keySet.toSeq.map { vid =>
      got(vid).intersect(rebuiltSets(vid)).size.toDouble / rebuiltSets(vid).size
    }
    val tornMean = tornRecalls.sum / tornRecalls.size
    val allMean = allRecalls.sum / allRecalls.size
    info(f"torn-list mean recall: $tornMean%.4f over ${torn.size} lists; " +
      f"overall: $allMean%.4f")
    assert(tornMean >= 0.9, s"torn-list recall $tornMean < 0.9")
    assert(allMean >= 0.9, s"overall recall $allMean < 0.9")
  }

  test("every emitted edge carries the EXACT integer distance") {
    import spark.implicits._
    val vecs = emb.select(col("vec_id").cast("long"),
        expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
          "x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))"))
      .as[(Long, Array[Long])].collect().toMap
    val bad = deletedRows.filterNot { case (vid, _, nbr, d2) =>
      val a = vecs(vid); val b = vecs(nbr)
      var s = 0L; var i = 0
      while (i < math.min(a.length, b.length)) {
        val d = a(i) - b(i); s += d * d; i += 1
      }
      s == d2
    }
    assert(bad.isEmpty, s"edges with wrong distances: ${bad.take(3).mkString(", ")}")
  }

  test("only torn lists change; everything else passes through " +
    "byte-identically, rk included") {
    val del = delIds.toSet
    val torn = fullRows.filter(r => !del(r._1) && del(r._3)).map(_._1).toSet
    val before = fullRows.filter(r => !del(r._1) && !torn(r._1))
      .groupBy(_._1)
    val after = deletedRows.filterNot(r => torn(r._1)).groupBy(_._1)
    assert(after.keySet == before.keySet,
      "untouched key sets differ (a non-torn list was touched)")
    before.foreach { case (vid, rs) =>
      assert(after(vid).sortBy(_._2).toSeq == rs.sortBy(_._2).toSeq,
        s"untouched node $vid changed")
    }
    info(s"torn lists: ${torn.size}; untouched pass-through verified for " +
      s"${before.size} nodes")
  }

  test("deterministic: 7-way repartitioned inputs delete to the " +
    "identical graph") {
    val again = Similarity.knnGraphDelete(
        fullGraph.repartition(7), emb.repartition(7), "vec_id", "embedding",
        delIds, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.sorted.toSeq == deletedRows.sorted.toSeq)
  }

  test("lifecycle round trip: inserting a batch then deleting it " +
    "returns the original graph at recall >= 0.95 per node") {
    val delta = emb.where(pmod(col("vec_id").cast("long"), lit(10L)) === lit(7L))
    val g0 = Similarity.knnGraph(survivors, "vec_id", "embedding", k)
    val g1 = Similarity.knnGraphInsert(g0, survivors, "vec_id", "embedding",
      delta, "vec_id", "embedding", k)
    val g2 = Similarity.knnGraphDelete(g1, emb, "vec_id", "embedding",
      delIds, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val orig = edgeSets(g0.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))))
    val back = edgeSets(g2.toSeq)
    assert(back.keySet == orig.keySet,
      "round trip changed the node set")
    val recalls = orig.toSeq.map { case (vid, ex) =>
      back(vid).intersect(ex).size.toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    info(f"round-trip mean recall vs the original graph: $mean%.4f")
    assert(mean >= 0.95, s"round-trip recall $mean < 0.95")
  }

  test("torn-list hand case: deleting a node's rank-1 neighbor repairs " +
    "its list to the rebuild's rank-1 for that node") {
    val del = delIds.toSet
    // a survivor whose rank-1 neighbor is deleted
    val victim = fullRows.find(r => r._2 == 1L && !del(r._1) && del(r._3)).get._1
    val repairedTop = deletedRows.filter(_._1 == victim).minBy(_._2)
    val rebuiltTop = Similarity.knnGraph(survivors, "vec_id", "embedding", k)
      .where(col("vid") === victim && col("rk") === 1).collect()(0).getLong(2)
    assert(repairedTop._3 == rebuiltTop,
      s"node $victim repaired rank-1 ${repairedTop._3} != rebuild's $rebuiltTop")
  }

  test("DataFrame-side delete batch: the frame overload is byte-identical " +
    "to the Seq form over the same id set") {
    val delFrame = emb
      .where(pmod(col("vec_id").cast("long"), lit(10L)) === lit(7L))
      .select(col("vec_id").cast("long").as("vec_id"))
    val viaFrame = Similarity.knnGraphDelete(
        fullGraph, emb, "vec_id", "embedding", delFrame, "vec_id", k,
        repairRounds = 4, repairBeam = 48, repairEntries = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(viaFrame.sorted.toSeq == deletedRows.sorted.toSeq,
      "frame overload diverged from the Seq form")
  }

  test("declared q175 carries its delete batch as a plan subtree, never " +
    "driver-side literals (no LocalRelation in the logical plan)") {
    val df = graft.rel.PipelineQueries.q175KnnGraphDelete(
      spark, SparkTestBase.Sf0001)
    val locals = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }
    assert(locals.isEmpty,
      s"q175's plan materializes driver-side rows: ${locals.size} " +
        "LocalRelation node(s) — the delete batch must stay distributed")
  }
}
