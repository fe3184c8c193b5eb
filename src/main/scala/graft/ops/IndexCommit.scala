package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Shared write protocol for the persisted index families (the nine
  * [[PersistedIndex]] families, [[IvfIndex]], [[PqIndex]]): each index
  * is a SET of parquet tables that must describe the same corpus, but
  * parquet gives one-table commits only. Two pieces close the gap:
  *
  *  1. A `_graft_commit` marker bracketing every multi-table write
  *     (dropped first, recreated after the last table lands). Readers
  *     call [[requireCommitted]] and FAIL CLOSED on a missing marker —
  *     an index whose tables disagree (e.g. postings without their
  *     docstats, pair facts without their basket ids) would silently
  *     return wrong scores or miss facts.
  *
  *  2. Batch-id partitioning: every write lands under its own
  *     `ingest_batch=B` partition via DYNAMIC partition overwrite, so
  *     re-running a batch id replaces that batch's partial output
  *     instead of appending a second copy. This is what makes failure
  *     recovery safe: re-run the same batch under its own id and the
  *     index holds each document exactly once. A full rebuild uses STATIC
  *     overwrite (batch id -1), replacing the whole table.
  */
private[graft] object IndexCommit {

  /** The batch partition column every index table carries. */
  val BatchCol = "ingest_batch"

  /** Marker a completed [[compactTo]] leaves in the SOURCE generation,
    * naming the successor directory — the precondition [[retire]]
    * checks, so GC can only ever remove a generation that provably has
    * a completed replacement. */
  val SupersededMarker = "_graft_superseded_by"

  /** Writer option value: full rebuilds replace the table, incremental
    * batches replace only their own partitions. */
  def overwriteMode(overwriteAll: Boolean): String =
    if (overwriteAll) "static" else "dynamic"

  private def markerAt(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir, "_graft_commit")
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Run a multi-table write bracketed by the marker: absent while the
    * commits are in flight, restored only after all of them landed. */
  def withGuard[T](spark: SparkSession, dir: String)(body: => T): T = {
    val (fs, m) = markerAt(spark, dir)
    fs.delete(m, false)
    val r = body
    fs.create(m, true).close()
    r
  }

  /** Non-throwing committed check — resume seams (the trainingShards
    * stage checkpoints) BRANCH on marker presence (recompute vs serve)
    * rather than failing closed the way index readers must. */
  def isCommitted(spark: SparkSession, dir: String): Boolean = {
    val (fs, m) = markerAt(spark, dir)
    fs.exists(m)
  }

  /** Fail closed when `dir` holds no complete committed write. */
  def requireCommitted(spark: SparkSession, dir: String, reading: String): Unit = {
    val (fs, m) = markerAt(spark, dir)
    require(fs.exists(m),
      s"$reading: $dir has no _graft_commit marker — the index was never " +
      "fully written or a save/append was interrupted between its table " +
      "commits; its tables may describe different corpora. Re-run the " +
      "interrupted batch or rebuild with save().")
  }

  /** Fail closed when a required index table is absent — the migration
    * probe (r16 advice): an index written by an earlier format version
    * may lack a table a newer read/write path depends on, and the raw
    * AnalysisException ("path does not exist") names neither the cause
    * nor the remedy. `hint` names the fix. */
  def requireTable(spark: SparkSession, dir: String, table: String,
      caller: String, hint: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      throw new IllegalArgumentException(
        s"$caller: $dir has no $table table — $hint")
  }

  /** The batch ids `tablePath` has partitions for (empty when the table
    * directory is absent) — one directory listing, bounded by past
    * writes. */
  private def batchIdsOf(fs: org.apache.hadoop.fs.FileSystem,
      tablePath: org.apache.hadoop.fs.Path): Set[Long] =
    if (!fs.exists(tablePath)) Set.empty
    else fs.listStatus(tablePath).iterator.map(_.getPath.getName)
      .filter(_.startsWith(s"$BatchCol="))
      .map(_.stripPrefix(s"$BatchCol=").toLong).toSet

  /** Torn-write admission check for the late-data write paths (r16
    * advice, medium): when `dir` already holds index tables but NO
    * commit marker, an earlier multi-table write crashed between its
    * table commits. Writing a NEW batch id on top would treat the torn
    * batch's partial claim tables as committed prior state — the late
    * delta would compute retractions from missing/partial claims,
    * double-counting the orphaned facts — and then the write's own
    * guard would RE-CREATE the marker, converting a fail-closed
    * uncommitted state into silently-committed wrong data. Only a
    * replay of the torn batch's OWN id is safe (its prior-state reads
    * exclude that id and its writes replace that id's partitions), so:
    *
    *  - every batch id present in only SOME of the `claimTables` (a
    *    completed batch writes all of them — they are per-batch
    *    projections of the same non-empty input), and every
    *    `factTable` id with no claim rows (the fact table is written
    *    FIRST, so a fact partition without its claims is an orphan;
    *    the reverse is legal — an empty delta writes no fact rows),
    *    must BE `batchId` — anything else is a torn batch this write
    *    cannot repair: fail closed naming it;
    *  - `batchId`'s own partial partitions are then SCRUBBED so the
    *    replay starts clean — dynamic overwrite only replaces
    *    partitions the new write produces, so an empty replacement
    *    table would otherwise leave the torn attempt's orphan behind.
    *
    * No-op when the marker is present or the directory is fresh. Cost:
    * one directory listing per table, bounded by past writes. */
  def requireReplaySafe(spark: SparkSession, dir: String, batchId: Long,
      claimTables: Seq[String], factTable: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root) || isCommitted(spark, dir)) return
    val claims = claimTables.map(t =>
      t -> batchIdsOf(fs, new org.apache.hadoop.fs.Path(s"$dir/$t"))).toMap
    val allClaims = claims.values.foldLeft(Set.empty[Long])(_ union _)
    val partial = allClaims.filterNot(i => claims.values.forall(_.contains(i)))
    val orphanFacts =
      batchIdsOf(fs, new org.apache.hadoop.fs.Path(s"$dir/$factTable")) --
        claims(claimTables.head)
    val torn = (partial ++ orphanFacts) - batchId
    require(torn.isEmpty,
      s"write batch $batchId: $dir has no _graft_commit marker and batch" +
        s"(es) ${torn.toSeq.sorted.mkString(", ")} left PARTIAL tables " +
        "behind — an earlier write crashed between its table commits. " +
        "Writing a new batch would absorb the torn batch's partial claims " +
        "as committed prior state (wrong retraction deltas) and restore " +
        "the marker over them. Replay the interrupted batch under its own " +
        "id or rebuild with save().")
    (factTable +: claimTables).foreach { t =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$t/$BatchCol=$batchId"),
        true)
    }
  }

  /** Pointer file naming the live generation under a snapshot root —
    * see [[publishSnapshot]]. */
  val SnapshotPointer = "_graft_current"

  /** Stamp file inside a snapshot generation recording WHEN the pointer
    * swapped off it (its modification time is the supersession instant)
    * — the [[publishSnapshot]] `retainMillis` clock. Age measured from
    * the DIRECTORY's creation instead (the r17 implementation) broke
    * the documented guarantee: a generation that served as the live
    * pointer for longer than retainMillis and was then superseded by
    * two quick publishes was deleted at the second publish, mid-scan
    * for any reader that resolved it before the first (r17 advice,
    * medium). */
  val SupersededAtMarker = "_graft_superseded_at"

  /** Filesystems whose rename is ATOMIC — the property the
    * [[publishSnapshot]] pointer swap requires (a reader must see the
    * old complete pointer or the new complete one, never a partial).
    * HDFS and POSIX rename are atomic; object stores (s3a, gs, wasb,
    * oss, cos…) implement rename as copy+delete, so a racing reader
    * can observe a missing or half-copied pointer. Publishing to such
    * a store is REFUSED (r16 verdict ask #5) unless the session opts
    * in via `spark.graft.snapshot.allowNonAtomicRename=true`,
    * accepting that readers must retry on a missing pointer — or the
    * deployment layers a rename-atomic service (HBOSS/S3Guard-style)
    * over the store. */
  val AtomicRenameSchemes: Set[String] = Set("file", "hdfs", "viewfs")

  /** Atomically publish `df` as the new serving snapshot under `root`
    * (r15 advice: the trending serving refresh used to rewrite its
    * table with a plain SaveMode.Overwrite — Spark deletes the
    * directory before rewriting, so a concurrent reader or a crash
    * mid-refresh saw a missing/partial table until another batch
    * arrived). Generation protocol instead:
    *
    *  1. the new generation lands in a FRESH `gen-<batchId>-<nonce>`
    *     directory (never rewriting one a reader might be serving —
    *     a replayed batch id publishes a new nonce);
    *  2. the [[SnapshotPointer]] file swaps to it via temp-file +
    *     rename with Options.Rename.OVERWRITE — atomic on HDFS and
    *     POSIX, so [[currentSnapshotDir]] readers see the old complete
    *     generation or the new complete one, never a partial;
    *  3. generations other than the new one and the one it replaced
    *     are deleted — the immediately-previous ALWAYS survives until
    *     the NEXT publish so in-flight readers keep their files, and
    *     `retainMillis > 0` additionally keeps any generation younger
    *     than that age (r16 advice: with fast appends and a slow
    *     downstream scan, two publishes could complete inside one read
    *     — the age floor bounds the reader-staleness window instead:
    *     a reader that resolves the pointer and finishes its scan
    *     within `retainMillis` never loses files).
    *
    * The pointer swap requires ATOMIC rename — enforced via
    * [[AtomicRenameSchemes]]: object-store roots are refused unless
    * the session sets `spark.graft.snapshot.allowNonAtomicRename=true`
    * (readers there must tolerate a brief missing-pointer window by
    * retrying [[currentSnapshotDir]]).
    *
    * A crash before step 2 leaves the pointer on the old complete
    * generation (the fresh dir is GC'd by the replay's step 3); a
    * crash after step 2 is a completed publish. Returns the new
    * generation's path. */
  def publishSnapshot(df: DataFrame, root: String, batchId: Long,
      retainMillis: Long = 0L): String = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val scheme = Option(rootPath.toUri.getScheme).getOrElse(
      org.apache.hadoop.fs.FileSystem.getDefaultUri(conf).getScheme)
    require(AtomicRenameSchemes.contains(scheme) ||
      spark.conf.get("spark.graft.snapshot.allowNonAtomicRename", "false")
        .toBoolean,
      s"publishSnapshot: $root resolves to filesystem scheme '$scheme', " +
        "whose rename is not atomic — the serving-pointer swap would let " +
        "readers observe a missing or partial pointer. Publish to an " +
        "atomic-rename store (" + AtomicRenameSchemes.toSeq.sorted
          .mkString(", ") + "), layer a rename-atomic service over the " +
        "object store, or opt in with " +
        "spark.graft.snapshot.allowNonAtomicRename=true and make readers " +
        "retry currentSnapshotDir on a missing pointer.")
    val fs = rootPath.getFileSystem(conf)
    val gen = s"gen-$batchId-${java.lang.System.nanoTime()}"
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/$gen")
    val prev = currentSnapshotName(spark, root)
    val cur = new org.apache.hadoop.fs.Path(rootPath, SnapshotPointer)
    val tmp = new org.apache.hadoop.fs.Path(rootPath, s"$SnapshotPointer.tmp")
    val out = fs.create(tmp, true)
    out.write(gen.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(rootPath.toUri, conf)
      .rename(tmp, cur, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    // stamp the generation the pointer just left: retainMillis measures
    // reader staleness from SUPERSESSION, not from directory creation
    // (see [[SupersededAtMarker]])
    prev.filter(_ != gen).foreach { p =>
      val d = new org.apache.hadoop.fs.Path(rootPath, p)
      if (fs.exists(d))
        fs.create(new org.apache.hadoop.fs.Path(d, SupersededAtMarker), true)
          .close()
    }
    val now = java.lang.System.currentTimeMillis()
    fs.listStatus(rootPath).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("gen-") && n != gen && !prev.contains(n)) {
        if (retainMillis <= 0L) fs.delete(st.getPath, true)
        else {
          val m = new org.apache.hadoop.fs.Path(st.getPath, SupersededAtMarker)
          if (!fs.exists(m))
            // unknown supersession instant (a crash between the pointer
            // swap and the stamp): start the clock NOW — conservatively
            // late, so a slow reader never loses files early
            fs.create(m, true).close()
          else if (now - fs.getFileStatus(m).getModificationTime >= retainMillis)
            fs.delete(st.getPath, true)
        }
      }
    }
    s"$root/$gen"
  }

  /** The live generation name recorded under `root`, if a publish ever
    * completed. */
  def currentSnapshotName(spark: SparkSession, root: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(root, SnapshotPointer)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        Some(new String(bytes.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8).trim)
      } finally in.close()
    }
  }

  /** Resolve the live snapshot generation's path — fails closed (the
    * [[requireCommitted]] discipline) when no publish ever completed. */
  def currentSnapshotDir(spark: SparkSession, root: String): String = {
    val gen = currentSnapshotName(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"currentSnapshotDir: $root has no $SnapshotPointer pointer — no " +
          "snapshot publish ever completed (or the root is wrong); the " +
          "serving table is not readable until the first publish lands"))
    s"$root/$gen"
  }

  /** Next free batch id for `tablePath`: one directory listing, bounded
    * by the number of PAST WRITES, not corpus size. */
  def nextBatchId(spark: SparkSession, tablePath: String): Long = {
    val p = new org.apache.hadoop.fs.Path(tablePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).iterator.map(_.getPath.getName)
      .filter(_.startsWith(s"$BatchCol="))
      .map(_.stripPrefix(s"$BatchCol=").toLong)
      .foldLeft(-1L)(math.max) + 1L
  }

  /** Refuse an incremental batch whose `idCol` values are already present
    * in the saved `table` — per-id keyed facts would double-count. Costs
    * one narrow scan of the saved table's id column. An absent table (the
    * first write into a fresh directory) holds no ids, so any batch is
    * disjoint from it. */
  def requireDisjoint(batch: DataFrame, tablePath: String, idCol: String): Unit = {
    val spark = batch.sparkSession
    val p = new org.apache.hadoop.fs.Path(tablePath)
    val overlap =
      if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) 0L
      else batch.select(col(idCol))
        .join(spark.read.parquet(tablePath).select(col(idCol)), Seq(idCol), "left_semi")
        .limit(1).count()
    require(overlap == 0L,
      s"append: batch contains $idCol values already indexed — appending " +
      "would double-count them (index tables are per-id keyed facts)")
  }

  /** Stamp the batch id column. */
  def stamped(df: DataFrame, batchId: Long): DataFrame =
    df.withColumn(BatchCol, lit(batchId))

  /** Record in `src` that a COMMITTED successor generation lives at
    * `dst` — called by the compaction paths after the successor's
    * marker lands, never before (an interrupted compaction must leave
    * `src` looking current, because it IS the only good copy). The
    * marker body is the successor's qualified path so [[retire]] can
    * re-verify the successor at delete time, not just at compact
    * time. */
  def markSuperseded(spark: SparkSession, src: String, dst: String): Unit = {
    requireCommitted(spark, dst, "markSuperseded")
    val p = new org.apache.hadoop.fs.Path(src, SupersededMarker)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(fs.makeQualified(new org.apache.hadoop.fs.Path(dst))
      .toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  /** The successor path recorded by [[markSuperseded]], if any. */
  def supersededBy(spark: SparkSession, dir: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(dir, SupersededMarker)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        Some(new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8).trim)
      } finally in.close()
    }
  }

  /** Delete a SUPERSEDED index generation (r13 verdict ask #7: compactTo
    * builds generation N+1 but nothing retired N, so long-lived indexes
    * accumulated every generation ever written). Guarded twice, both
    * fail-closed:
    *  - `dir` must carry the [[SupersededMarker]] a completed compaction
    *    wrote — retire refuses to touch a current (or never-compacted)
    *    generation;
    *  - the recorded successor must be COMMITTED right now — a successor
    *    that lost its `_graft_commit` marker (interrupted rewrite over
    *    it) means `dir` may again be the only good copy, so retire
    *    refuses until the successor is restored.
    * Readers of the retired path fail closed by construction (the
    * directory is gone ⇒ no commit marker). Retire is the caller's
    * EXPLICIT leisure step — the serving cutover ("point readers at
    * dst") must already have happened. */
  def retire(spark: SparkSession, dir: String): Unit = {
    val dst = supersededBy(spark, dir).getOrElse(throw new IllegalArgumentException(
      s"retire: $dir carries no $SupersededMarker marker — only a generation " +
        "replaced by a COMPLETED compactTo may be retired; retiring a current " +
        "generation would destroy live data"))
    require(isCommitted(spark, dst),
      s"retire: successor $dst is not committed (missing/interrupted " +
        s"_graft_commit) — $dir may be the only complete copy; restore the " +
        "successor before retiring this generation")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }

  /** One table of a compacted index: its directory name, the partition
    * columns UNDER the batch level, and whether it carries the batch
    * column at all (an unstamped table — e.g. IVF centroids — is copied
    * verbatim). */
  final case class TableSpec(name: String, partitionCols: Seq[String] = Nil,
      stamped: Boolean = true)

  /** Compact a fragmented index into a fresh snapshot directory: every
    * stamped table's accumulated `ingest_batch=B` partitions (one per
    * past [[LexIndex.append]]-style write) are rewritten as the single
    * batch `-1` a full rebuild would produce, cutting the
    * directory/file fan-out back to one generation. Correct because
    * incremental batches are DISJOINT by contract (appends refuse
    * overlapping ids — [[requireDisjoint]]), so restamping is a pure
    * layout change: no re-aggregation, no corpus re-read.
    *
    * The rewrite lands in `dst`, never in place: an in-place rewrite
    * would read and overwrite the same files, and a crash mid-swap would
    * lose the only copy. This is the snapshot-generation model the index
    * scaladocs recommend for serving anyway — build generation N+1 while
    * N serves, then point readers at `dst` and retire `src` at leisure.
    * Crash-safe by the marker protocol: an interrupted compaction leaves
    * `dst` unmarked (readers fail closed) and `src` untouched — re-run
    * to completion. */
  def compactTo(spark: SparkSession, src: String, dst: String,
      tables: Seq[TableSpec]): Unit = {
    requireCommitted(spark, src, "compactTo")
    val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    require(fs.makeQualified(new org.apache.hadoop.fs.Path(src)) !=
      fs.makeQualified(new org.apache.hadoop.fs.Path(dst)),
      "compactTo: dst must be a DIFFERENT directory — an in-place rewrite " +
      "would overwrite the files it is reading")
    withGuard(spark, dst) {
      tables.foreach { t =>
        val df = spark.read.parquet(s"$src/${t.name}")
        val (out, parts) =
          if (t.stamped) (stamped(df.drop(BatchCol), -1L), BatchCol +: t.partitionCols)
          else (df, t.partitionCols)
        // cluster rows by their target partitions so each write task hits
        // one directory instead of all of them (small-file fan-out)
        val clustered =
          if (t.partitionCols.nonEmpty) out.repartition(t.partitionCols.map(col): _*)
          else out
        val w = clustered.write.mode("overwrite")
          .option("partitionOverwriteMode", "static")
        (if (parts.nonEmpty) w.partitionBy(parts: _*) else w)
          .parquet(s"$dst/${t.name}")
      }
    }
    // only after dst's commit marker landed: record the supersession in
    // src so [[retire]] can GC it — an interrupted compaction reaches
    // neither this line nor the marker, leaving src looking current
    markSuperseded(spark, src, dst)
  }
}
