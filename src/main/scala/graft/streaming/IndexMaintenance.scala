package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming kNN-graph index maintenance: a CDC stream of vector
  * inserts/deletes keeps a PERSISTED graph index current between full
  * builds — the online half of the lifecycle whose batch verbs are
  * q174 ([[graft.ops.Similarity.knnGraphInsert]]) and q175
  * ([[graft.ops.Similarity.knnGraphDelete]]).
  *
  * Shape: `foreachBatch`, not a keyed state processor — the state here
  * is the WHOLE index (the n·k edge table plus the corpus it indexes),
  * which lives in versioned parquet on shared storage, never in
  * per-executor streaming state. Each micro-batch applies deletes first
  * (against the pre-batch state), then inserts (HNSW arrival semantics
  * at micro-batch granularity — exactly `knnGraphInsertChunked`'s
  * contract with the stream supplying the chunk boundaries), and
  * publishes a NEW version directory; the version pointer is the commit.
  *
  * Exactly-once across restarts rides Structured Streaming's contract:
  * batch ids are stable under checkpoint replay, so `applyBatch` is
  * IDEMPOTENT by versioning state dirs with the batch id — a replayed
  * batch sees `version <= latest` and returns without touching state
  * (the classic foreachBatch dedup recipe). Publication is atomic: the
  * version directory is staged under a process-unique temp name and
  * renamed in ([[graft.ops.ModelStore.publish]]), then the LATEST
  * pointer file is swapped by rename — a reader (the q172-style
  * serving path) only ever sees a complete, committed version.
  *
  * Storage: `stateDir` may be a plain absolute path (java.io fast path,
  * atomic POSIX rename) or a scheme-carrying one (`file:`, `hdfs://`,
  * `s3a://`) routed through the Hadoop FileSystem API end to end —
  * listing, version publish, GC, and the pointer swap (FileContext
  * overwrite-rename, atomic on HDFS; on copy-rename schemes like S3A
  * the swap degrades to the scheme's own contract and a reader that
  * catches the torn window re-resolves). The whole storage seam is
  * [[StateProtocol]] — shared with the posting-index twin
  * ([[PostingsMaintenance]]) so a hardening fix lands once.
  *
  * Writers: single-writer per stateDir by contract (one streaming query
  * owns it). [[acquireWriter]] turns that contract into an ENFORCED
  * epoch lease — two maintenance streams pointed at one stateDir no
  * longer interleave pointer swaps or GC each other's live bases; the
  * superseded writer fails loudly with
  * [[StateProtocol.FencedException]] at its next commit, committed
  * state intact. [[graphMaintenanceStream]] acquires one automatically.
  *
  * Scale notes: per batch the graph work is the q174/q175 bound (walk
  * placement + batch-sized joins; the corpus never rescans), and the
  * edge-table rewrite stays O(n·k) rows — 16 bytes a row, the same
  * artifact ModelStore already serves. The corpus has TWO write modes:
  *  - `compactEvery = 0` (default): full rewrite per batch — one
  *    distributed parquet copy, O(n·d) per batch. Simple, and fine
  *    when batches are rare relative to corpus size.
  *  - `compactEvery = m > 0`: a DELTA LOG, the same recipe a lake
  *    table format uses for append/delete. A batch writes only its own
  *    rows (`cdelta/` — inserts with vectors, deletes as tombstones);
  *    every m-th commit COMPACTS the chain into a fresh full base
  *    (`corpus/`). Reads resolve the newest base at-or-below the
  *    version and fold the delta chain order-aware (last op per id
  *    wins — a delete-then-reinsert across batches resolves to the
  *    reinserted vector). Per-batch corpus write cost drops from
  *    O(n·d) to O(batch·d), amortized O(n·d / m) for the compactions;
  *    the chain never exceeds m - 1 deltas, bounding read-side fold
  *    work. GC keeps every version at-or-above the BASE of the oldest
  *    count-kept version, so a kept version's whole base→delta chain
  *    stays resolvable.
  *
  * Contract: rows are (op, vec_id, embedding) with op ∈ {"I", "D"};
  * delete ids must exist in the pre-batch corpus, insert ids must be
  * new, and one batch must not both insert and delete the same id
  * (CDC compaction upstream owns that collapse). A delete batch is
  * model-sized by the q175 contract (it broadcasts inside the verb).
  */
object IndexMaintenance {

  import StateProtocol.{StateDir, stateFs, committedVersions}

  /** Re-exported so callers need not name the protocol module. */
  type WriterLease = StateProtocol.WriterLease

  /** Acquire the writer lease for `stateDir` (fencing any previous
    * holder) — pass it to [[applyBatch]] to enforce the single-writer
    * contract. See [[StateProtocol.acquireWriter]]. */
  def acquireWriter(stateDir: String): WriterLease =
    StateProtocol.acquireWriter(stateDir)

  // =====================================================================
  // Versioned-state protocol (storage seam: StateProtocol)
  // =====================================================================

  /** A BASE version carries a full corpus snapshot; a DELTA version
    * carries only its own batch rows. `init` and every full-mode or
    * compacting commit write bases, so full mode is all-bases and the
    * reader below is mode-agnostic. */
  private def isBase(sd: StateDir, v: Long): Boolean =
    sd.isDir(s"v$v/corpus")

  /** Resolve the corpus AS OF version `v`: the version's own snapshot
    * when it is a base, else the newest base at-or-below it with the
    * delta chain folded on top, order-aware — for each id the LAST
    * delta op wins, so I@5 then D@7 is dead, D@7 then I@9 is live with
    * the version-9 vector. The touched-id anti-join is left UNHINTED
    * deliberately: the chain is up to compactEvery - 1 whole batches,
    * so unlike q175's single delete set it has no contractual
    * driver-sized bound — AQE broadcasts it when the accumulated ids
    * are small (the common case) and falls back to a shuffled join
    * when a long chain of large batches would blow the broadcast
    * limit, which is then the correct plan. */
  /** The version's resolution chain `[base, d1, …, v]`: the chain FILE
    * committed with the version when present (listing-independent — the
    * lagging-listing guarantee, [[StateProtocol.chainOf]]), else the
    * listing-discovered chain for pre-chain-file state dirs. */
  private def chainFor(sd: StateDir, v: Long): Seq[Long] =
    StateProtocol.chainOf(sd, v).getOrElse {
      val vs = committedVersions(sd).filter(_ <= v)
      val b = vs.filter(isBase(sd, _)).maxOption.getOrElse(
        sys.error(s"version $v of ${sd.rootPath} has no base snapshot at or " +
          "below it — the reader lags past the GC window (raise " +
          "keepVersions on the writer, or pin earlier)"))
      b +: vs.filter(_ > b)
    }

  private def resolveCorpus(spark: SparkSession, sd: StateDir,
                            v: Long): DataFrame = {
    if (isBase(sd, v))
      return spark.read.parquet(sd.sparkPath(s"v$v/corpus"))
    val chain = chainFor(sd, v)
    val b = chain.head
    val base = spark.read.parquet(sd.sparkPath(s"v$b/corpus"))
    val deltas = chain.tail.map { dv =>
      spark.read.parquet(sd.sparkPath(s"v$dv/cdelta"))
        .withColumn("_ver", lit(dv))
    }.reduce(_ unionByName _)
    // op is a pure tie-break: one batch never carries both ops for one
    // id (applyBatch guards it), but a hand-written delta must still
    // resolve deterministically — "D" sorts before "I", so a tie reads
    // as deleted, the conservative side
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("_ver").desc, col("op").asc)
    val last = deltas.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
    base.join(last.select("vec_id"), Seq("vec_id"), "left_anti")
      .unionByName(last.where(col("op") === "I")
        .select(col("vec_id"), col("embedding")))
  }

  /** The committed version id, or None before [[init]]. */
  def latestVersion(stateDir: String): Option[Long] =
    StateProtocol.latestVersion(stateFs(stateDir))

  /** Read the committed (corpus, graph) pair. The returned frames are
    * LAZY scans of the resolved version directory: a reader that lags
    * the writer by more than `keepVersions - 1` commits will find its
    * files GC'd mid-scan (FileNotFoundException from the task side).
    * `pin = true` materializes both frames eagerly (localCheckpoint)
    * so the handed-back data outlives any number of commits — the
    * right mode for long-lived served DataFrames under a
    * fast-committing stream; the alternative is raising the writer's
    * `keepVersions` to the reader's lag bound. */
  def readState(spark: SparkSession, stateDir: String,
                pin: Boolean = false): (DataFrame, DataFrame) = {
    val (c, g, _) = readStateVersioned(spark, stateDir, pin)
    (c, g)
  }

  /** [[readState]] plus the version it resolved — a lagging reader can
    * compare against [[latestVersion]] / [[isVersionLive]] and
    * re-resolve BEFORE a vanished directory surfaces as an opaque
    * task-side FileNotFoundException. */
  def readStateVersioned(spark: SparkSession, stateDir: String,
                         pin: Boolean = false): (DataFrame, DataFrame, Long) = {
    val sd = stateFs(stateDir)
    val v = latestVersion(stateDir).getOrElse(
      sys.error(s"no committed index state under $stateDir"))
    if (!sd.isDir(s"v$v"))
      sys.error(s"index state $stateDir points at version $v but " +
        s"v$v is gone — the pointer and the GC disagree (corrupt stateDir?)")
    val raw = (
      resolveCorpus(spark, sd, v),
      spark.read.parquet(sd.sparkPath(s"v$v/graph")))
    if (pin) (raw._1.localCheckpoint(), raw._2.localCheckpoint(), v)
    else (raw._1, raw._2, v)
  }

  /** True while version `v`'s directory survives GC — the lag check for
    * long-lived lazy readers. */
  def isVersionLive(stateDir: String, v: Long): Boolean =
    stateFs(stateDir).isDir(s"v$v")

  /** Stage (corpus, graph) as version `v` and commit it by pointer swap
    * ([[StateProtocol.commitVersion]] — publish, swap, chain-aware GC,
    * orphan reaping, lease checks). Versions older than the previous
    * `keepVersions - 1` committed ones are removed; the default 2
    * covers a reader whose lazy scan spans ONE commit — a reader that
    * can lag further (long-lived served DataFrames under a
    * fast-committing stream) must raise `keepVersions` to its lag
    * bound, there is no lease protocol for READERS. */
  private def commit(sd: StateDir, v: Long,
                     corpus: DataFrame, graph: DataFrame,
                     keepVersions: Int,
                     corpusDelta: Option[DataFrame] = None,
                     lease: Option[WriterLease] = None,
                     chain: Seq[Long]): Unit =
    StateProtocol.commitVersion(sd, v, keepVersions, isBase(sd, _), lease,
      chain) { tmp =>
        corpusDelta match {
          case Some(delta) =>
            delta.write.mode("overwrite").parquet(tmp.child("cdelta"))
          case None =>
            corpus.write.mode("overwrite").parquet(tmp.child("corpus"))
        }
        graph.write.mode("overwrite").parquet(tmp.child("graph"))
    }

  /** Seed the state with a built index (version -1, before any batch).
    * Refuses to re-seed a live stateDir: rolling the pointer back over
    * committed versions would revert readers to the seed AND make the
    * existing checkpoint's batch ids all look replayed. */
  def init(stateDir: String, corpus: DataFrame, graph: DataFrame): Unit = {
    require(latestVersion(stateDir).isEmpty,
      s"$stateDir already holds committed index state (version " +
        s"${latestVersion(stateDir).get}); refusing to re-seed — point new " +
        "corpora at a fresh stateDir")
    val sd = stateFs(stateDir)
    sd.mkdirs()
    commit(sd, -1L, corpus, graph, keepVersions = 2, chain = Seq(-1L))
  }

  /** Apply one CDC micro-batch. Idempotent: a batch id at or below the
    * committed version is a checkpoint replay and is skipped whole —
    * which is also why the streaming CHECKPOINT and the stateDir are a
    * paired unit: resetting the checkpoint re-numbers source batches
    * from 0, and this guard would then silently drop genuinely new data.
    * Never reset one without the other; the id-disjointness requires
    * below turn the double-apply half of that mistake into a fail-fast.
    *
    * `lease`: pass the [[acquireWriter]] token to enforce the
    * single-writer contract — a writer superseded by a newer acquire
    * fails with [[StateProtocol.FencedException]] before it can publish,
    * swap the pointer, or GC. `None` is the legacy by-contract mode.
    *
    * `materializeFold = false` is the lake-scale escape for deployments
    * that must not copy the corpus per batch: the resolved chain fold
    * stays a PLAN and every verb job re-pays it as a small-side
    * broadcast join over the base scan (the plan DeltaCorpusLogSpec
    * pins; measured at sf0.1 over six batches: +19% wall at 2k corpus
    * rows, +31% at 20k, against the materialized fold). The
    * verbs' walk loops still localCheckpoint every round either way —
    * without a per-round materializer each round's plan nests inside
    * the next over the unmaterialized fold, which grows the analyzed
    * plan superlinearly in rounds (measured: driver OOM on a 3-batch
    * sequence at default heap). */
  def applyBatch(batch: DataFrame, batchId: Long, stateDir: String, k: Int,
                 keepVersions: Int = 2, compactEvery: Int = 0,
                 lease: Option[WriterLease] = None,
                 materializeFold: Boolean = true): Unit = {
    val spark = batch.sparkSession
    val sd = stateFs(stateDir)
    StateProtocol.checkWriter(sd, lease, "batch entry")
    val latest = latestVersion(stateDir).getOrElse(
      sys.error(s"index state not initialized under $stateDir"))
    if (batchId <= latest) return
    val (corpus0, graph) = readState(spark, stateDir)
    // on a delta chain the resolved corpus is a fold PLAN (base scan +
    // last-op window + anti-join + union), and the verbs re-evaluate
    // their corpus in every job — walk rounds, contract checks — so an
    // unmaterialized fold re-pays the window per action (measured +20-30%
    // on a 6-batch sequence). Materialize it ONCE per batch (a local
    // checkpoint); a base resolves to a plain parquet scan
    // and is left alone. Lake-scale deployments that must not
    // materialize the corpus set `materializeFold = false` and accept
    // the re-fold — there the per-scan increment is one small-side join,
    // not a window over the base.
    val corpus =
      if (materializeFold && !isBase(sd, latest)) corpus0.localCheckpoint()
      else corpus0
    val rows = batch.select(col("op"), col("vec_id").cast("long").as("vec_id"),
      col("embedding")).localCheckpoint()
    // fail fast on ops outside the contract: silently dropping an
    // unrecognized op (an upstream "U", a case drift) would diverge the
    // index from its source with no signal
    val badOps = rows.where(col("op") =!= "I" && col("op") =!= "D")
      .select("op").distinct().collect().map(_.getString(0))
    require(badOps.isEmpty,
      s"batch $batchId carries unsupported ops ${badOps.mkString(",")} — " +
        "the CDC contract is op IN ('I','D')")
    // delete ids are model-sized by contract (q175's documented bound);
    // distinct because a repeated tombstone is harmless to full mode but
    // must not reach the verbs twice
    val delIds = rows.where(col("op") === "D").select("vec_id")
      .collect().map(_.getLong(0)).toSeq.distinct.sorted
    val inserts = rows.where(col("op") === "I")
      .select(col("vec_id"), col("embedding"))
    // duplicate insert ids WITHIN a batch would corrupt rather than fail:
    // full mode unions both rows while the delta fold's last-op window
    // ties on (_ver, op) and keeps one arbitrarily — a silent
    // mode-divergence, so it fails fast like every other contract breach
    val dupIns = inserts.groupBy("vec_id").count().where(col("count") > 1)
      .select("vec_id").limit(5).collect().map(_.getLong(0))
    require(dupIns.isEmpty,
      s"batch $batchId carries duplicate insert ids (CDC compaction " +
        s"upstream owns the collapse): ${dupIns.mkString(",")}")
    // id-disjointness contract checks, both one bounded pass: deletes
    // must hit live rows, inserts must be new ids (a violated insert is
    // the checkpoint-reset double-apply signature — fail, don't corrupt)
    if (delIds.nonEmpty) {
      val live = corpus.where(col("vec_id").isin(delIds: _*))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val missing = delIds.filterNot(live)
      require(missing.isEmpty,
        s"batch $batchId deletes ids absent from the live corpus: " +
          s"${missing.take(5).mkString(",")}")
    }
    val clash = inserts.join(corpus, Seq("vec_id"), "left_semi")
      .select("vec_id").limit(5).collect().map(_.getLong(0))
    require(clash.isEmpty,
      s"batch $batchId inserts ids already live (checkpoint-reset " +
        s"double-apply?): ${clash.mkString(",")}")
    val (c1, g1) =
      if (delIds.isEmpty) (corpus, graph)
      else (corpus.where(!col("vec_id").isin(delIds: _*)),
        graft.ops.Similarity.knnGraphDelete(graph, corpus, "vec_id",
          "embedding", delIds, k))
    val (c2, g2) =
      if (inserts.isEmpty) (c1, g1)
      else (c1.unionByName(inserts),
        graft.ops.Similarity.knnGraphInsert(g1, c1, "vec_id", "embedding",
          inserts, "vec_id", "embedding", k))
    // delta-log mode: write only this batch's rows unless the chain has
    // reached compactEvery commits since the newest base, in which case
    // fold it into a fresh full snapshot. The decision is a pure
    // function of on-disk state, so a checkpoint replay that re-reaches
    // this point (pre-commit crash) makes the same call.
    // the compaction decision and the committed chain derive from the
    // POINTER version's own chain (or its listing-discovered equivalent
    // on a pre-chain-file stateDir): a pure function of committed
    // state — a published-but-unswapped orphan from a crashed commit is
    // invisible to it, and a checkpoint replay makes the same call
    lazy val prevChain = chainFor(sd, latest)
    val delta =
      if (compactEvery <= 0) None
      else if (prevChain.length >= compactEvery) None
      // tombstones don't carry vectors: resolution reads embedding
      // only for op = I, so nulling it keeps delta bytes at
      // O(deletes) instead of O(deletes · d) when upstream CDC
      // echoes the deleted payload
      else Some(rows.withColumn("embedding",
        when(col("op") === "I", col("embedding"))))
    val chain =
      if (delta.isEmpty) Seq(batchId) else prevChain :+ batchId
    commit(sd, batchId, c2, g2, keepVersions, delta, lease, chain)
  }

  /** Attach the maintenance sink to a streaming (op, vec_id, embedding)
    * frame. The default `Trigger.AvailableNow` is the drain-and-stop
    * incarnation shape the restart specs use; a continuous deployment
    * passes its own trigger (e.g. `Trigger.ProcessingTime`) here — it
    * cannot be changed after `start()`. Acquires the WRITER lease at
    * attach time: starting a second maintenance stream on the same
    * stateDir fences this one (it fails loudly at its next commit
    * instead of corrupting shared state). */
  def graphMaintenanceStream(cdc: DataFrame, stateDir: String, k: Int,
                             checkpointDir: String,
                             trigger: Trigger = Trigger.AvailableNow(),
                             keepVersions: Int = 2,
                             compactEvery: Int = 0): StreamingQuery = {
    val lease = acquireWriter(stateDir)
    cdc.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, id: Long) =>
        applyBatch(b, id, stateDir, k, keepVersions = keepVersions,
          compactEvery = compactEvery, lease = Some(lease)))
      .trigger(trigger)
      .start()
  }
}
