package graft.pipeline

import org.apache.spark.sql.{Row, SparkSession}

/** Shared meta-pointer read + epoch garbage collection for every
  * persisted artifact (MinHash / decontamination / LM / k-means / HLL /
  * IVF lifecycles).
  *
  * Each lifecycle swaps its meta via sideways write + delete + rename —
  * meta commits LAST, so epoch dirs are immutable and an interrupted
  * step leaves the previous pointer in place. The delete+rename pair is
  * NOT atomic though: a reader landing in the window between the two
  * filesystem ops finds no meta dir and, without this helper, threw a
  * misleading "not an artifact" error for a perfectly healthy index
  * mid-append. One bounded retry after a short pause covers the window
  * (the swap is two fast metadata ops); a second miss means the
  * artifact genuinely is not there — or a build died before its first
  * commit — and the loud error stands. A truly atomic pointer would
  * need a single-file rename-over, which parquet directory outputs
  * don't give us on every Hadoop filesystem. */
private[graft] object MetaIO {

  /** Only a MISSING meta dir is the swap-window signature; any other
    * read failure (corrupt footer, schema mismatch, permissions) is a
    * real error that a 200 ms pause cannot fix — retrying it would just
    * pay a blind sleep plus a second full read before failing anyway.
    * The signature can also arrive WRAPPED: files deleted between path
    * resolution and task read surface as a SparkException whose cause
    * chain bottoms out in FileNotFoundException — so the whole chain is
    * walked (bounded, in case of a cyclic cause). */
  private def isPathMissing(e: Throwable): Boolean = {
    @annotation.tailrec
    def walk(t: Throwable, depth: Int): Boolean =
      if (t == null || depth > 10) false
      else t match {
        case _: java.io.FileNotFoundException => true
        case a: org.apache.spark.sql.AnalysisException
            if Option(a.getCondition).exists(_.startsWith("PATH_NOT_FOUND")) ||
              a.getMessage.contains("Path does not exist") => true
        case _ => walk(t.getCause, depth + 1)
      }
    walk(e, 0)
  }

  /** First row of `$path/meta`, retrying once across the swap window.
    * `label` names the artifact in the error ("lm model", "hll
    * index"); `kind` is its category noun ("model", "index"). Retries
    * ONLY the path-not-found swap signature; everything else fails
    * fast, untouched. */
  def readMetaRow(spark: SparkSession, path: String, label: String,
                  kind: String): Row = {
    def attempt(): Array[Row] = StoredParquet.read(spark, s"$path/meta").collect()
    val rows =
      try attempt()
      catch {
        case e: Exception if isPathMissing(e) =>
          Thread.sleep(200L)
          try attempt()
          catch { case e2: Exception if isPathMissing(e2) =>
            throw new IllegalStateException(
              s"$label at $path has no readable meta — not a${nArticle(kind)}" +
                s" $kind artifact, or an interrupted write that never " +
                "committed", e2) }
      }
    // a meta relation that EXISTS but holds zero rows is the same
    // interrupted-write signature wearing a different face — a bare
    // rows(0) here would surface it as an unlabeled index-out-of-bounds
    if (rows.isEmpty)
      throw new IllegalStateException(
        s"$label at $path has an empty meta relation — not " +
          s"a${nArticle(kind)} $kind artifact, or an interrupted write " +
          "that never committed")
    rows(0)
  }

  /** Does `$path/meta` exist — RECOVERING an interrupted swap first?
    * [[swapMetaRow]] commits tmp-write → delete(meta) → rename; a crash
    * between the delete and the rename leaves no meta but a FULLY
    * WRITTEN `meta__next` (the tmp is complete before the delete ever
    * runs). Completing that rename here restores the artifact exactly
    * as the dead commit intended. This matters most to the
    * auto-build-on-first-batch ingest paths: without recovery they
    * would read the torn window as "empty path" and OVERWRITE the
    * artifact's data relations with one batch's worth — silent total
    * loss. (A crash mid-tmp-write leaves the old meta in place, so the
    * first branch already answers true and the partial tmp is
    * overwritten by the next commit.)
    *
    * Only a COMMITTED tmp is promoted: a crash mid-FIRST-build (no
    * prior meta, the sideways write itself interrupted) leaves a
    * partial `meta__next` with no `_SUCCESS` marker — promoting that
    * would hand the next ingest an unreadable (or empty) meta and
    * crash-loop it on a raw parquet error instead of the intended loud
    * "no recoverable meta" refusal. A partial tmp is deleted and the
    * answer is false, so the caller's first-build branch runs. */
  def metaExistsOrRecover(spark: SparkSession, path: String): Boolean =
    dirExistsOrRecover(spark, s"$path/meta")

  /** The generic form of [[metaExistsOrRecover]] for ANY relation
    * committed via sideways write + delete + rename (`<dir>__next`):
    * answers whether `dir` exists, completing an interrupted rename
    * first when the sideways copy is a COMMITTED Spark write
    * (`_SUCCESS` marker + at least one data file). A tmp with NO data
    * files is an unambiguous torn partial and is deleted; a tmp that
    * HOLDS data files but no marker is left IN PLACE untouched —
    * deleting it would permanently destroy the artifact's only meta on
    * a deployment that disables `_SUCCESS` markers
    * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false`, common
    * on object stores), where a fully-committed write looks exactly
    * like a torn one. The answer is false either way, so the caller's
    * loud no-recoverable-meta guard fires and an operator can inspect
    * (renaming a complete `meta__next` to `meta` by hand is the
    * repair); marker-less deployments should keep markers ON for
    * artifact paths to get automatic recovery. */
  def dirExistsOrRecover(spark: SparkSession, dir: String): Boolean = {
    val hconf = spark.sessionState.newHadoopConf()
    val target = new org.apache.hadoop.fs.Path(dir)
    val fs = target.getFileSystem(hconf)
    if (fs.exists(target)) true
    else {
      val tmp = new org.apache.hadoop.fs.Path(s"${dir}__next")
      if (!fs.exists(tmp)) false
      else if (isCommittedWrite(fs, tmp)) fs.rename(tmp, target)
      else {
        if (!hasDataFile(fs, tmp)) fs.delete(tmp, true)
        false
      }
    }
  }

  /** A directory is a committed Spark write iff the job-level
    * `_SUCCESS` marker landed AND at least one data file exists (the
    * marker commits after every task file; an empty-dataset write
    * still emits one schema-only part file — SPARK-23271). */
  private def isCommittedWrite(fs: org.apache.hadoop.fs.FileSystem,
                               dir: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS")) &&
      hasDataFile(fs, dir)

  private def hasDataFile(fs: org.apache.hadoop.fs.FileSystem,
                          dir: org.apache.hadoop.fs.Path): Boolean =
    fs.listStatus(dir).exists(StoredParquet.isDataFile)

  /** The SHARED batch-pointer replay/regression policy, one
    * implementation for every streaming ingest leg (WARC, media-hash,
    * LM, decontam, quantile, MinHash): an incoming id at or ONE below
    * the stored pointer is the crash-replay signature (the replayed
    * batch is always the last one started) and returns true — skip
    * quietly; an id regressing FURTHER is a reset checkpoint (ids
    * restart at 0) or a second maintainer, and silently dropping it
    * would lose its data — so it throws, naming the artifact and its
    * pointer-free backfill. Call only when batchId <= lastBatchId. */
  def requireReplayNotRegression(label: String, path: String,
                                 batchId: Long, lastBatchId: Long,
                                 lostNoun: String,
                                 backfillName: String): Unit =
    require(batchId >= lastBatchId - 1,
      s"$label at $path: incoming batch id $batchId regressed more " +
        s"than one below the stored pointer $lastBatchId — a reset " +
        "checkpoint (ids restart at 0) or a second maintainer writing " +
        s"this $label; dropping it would silently lose its $lostNoun. " +
        s"Backfill once via $backfillName (no pointer, replay-safe), " +
        "then resume with a fresh checkpoint")

  /** The SHARED never-rebuild-over guard for the
    * auto-build-on-first-batch ingest legs: when meta is missing AND
    * unrecoverable, a data relation already on disk means a naive
    * rebuild would OVERWRITE it — refuse loudly instead. `relDir` is
    * the artifact's data-relation root (absolute). */
  def requireNoOrphanData(spark: SparkSession, label: String,
                          relDir: String): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(relDir)
    require(!p.getFileSystem(hconf).exists(p),
      s"$label holds data relations at $relDir but no recoverable " +
        "meta — refusing to build over them; repair (a complete " +
        "meta__next beside them can be renamed to meta by hand) or " +
        "use a fresh path")
  }

  /** The meta-pointer SWAP, shared by every artifact lifecycle: write
    * the one-row relation SIDEWAYS (`meta__next`), then delete the live
    * pointer and rename — meta commits LAST in every lifecycle step,
    * and the non-atomic delete→rename window is exactly what
    * [[readMetaRow]]'s bounded retry covers. One implementation so a
    * fix to the crash window lands everywhere at once. */
  def swapMetaRow(spark: SparkSession, path: String, label: String,
                  metaDf: org.apache.spark.sql.DataFrame): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    val target = new org.apache.hadoop.fs.Path(s"$path/meta")
    val fs = target.getFileSystem(hconf)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/meta__next")
    fs.delete(tmp, true)
    metaDf.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    fs.delete(target, true)
    require(fs.rename(tmp, target),
      s"$label: meta swap $tmp -> $target failed")
  }

  /** The stored bloom bitmap as a (word_idx, word) relation AT `dir` —
    * the relation shape every bloom-carrying artifact shares (callers
    * own the directory naming: `…/e<N>/bloom`, `…/bloom/e<N>`, …). */
  def writeBloomWords(spark: SparkSession, bits: Array[Long],
                      dir: String): Unit = {
    import spark.implicits._
    bits.toIndexedSeq.zipWithIndex.map { case (w, i) => (i, w) }
      .toDF("word_idx", "word")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** …and its probe-shape read: numBits/64 longs, a scalar-sized
    * collect (≤16 MB at the build cap), reassembled by word index. The
    * schema comes from the footer ([[StoredParquet]]), so the read runs
    * no schema-inference job. */
  def readBloomWords(spark: SparkSession, dir: String,
                     numBits: Int): Array[Long] = {
    import org.apache.spark.sql.functions.col
    val words = new Array[Long](numBits / 64)
    StoredParquet.read(spark, dir)
      .select(col("word_idx"), col("word")).collect()
      .foreach(r => words(r.getInt(0)) = r.getLong(1))
    words
  }

  /** Epoch garbage collection, shared by every epoch'd lifecycle. ONE
    * convention at every call site: pass the epoch being SUPERSEDED by
    * the commit that just swapped meta. `e<N>` children with
    * N < `superseded` are deleted under each relation root; the
    * superseded epoch itself (and anything newer) survives — one
    * commit's grace window for a reader that resolved the old meta
    * just before the swap and is still probing its relations. Without
    * this, an append-heavy deployment leaks one full artifact copy per
    * append (a daily append leaves ~365 stale epochs a year).
    * Idempotent; a missing root (first commit) is a no-op; non-epoch
    * children (`signatures`, `meta`, …) are never touched. An initial
    * commit has nothing superseded — pass `firstEpoch - 1` (= -1),
    * which deletes nothing. */
  def pruneEpochs(spark: SparkSession, roots: Seq[String],
                  superseded: Long): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    roots.foreach { r =>
      val root = new org.apache.hadoop.fs.Path(r)
      val fs = root.getFileSystem(hconf)
      if (fs.exists(root)) fs.listStatus(root).foreach { st =>
        val name = st.getPath.getName
        if (name.length > 1 && name.startsWith("e") &&
            name.drop(1).forall(_.isDigit) &&
            name.drop(1).toLong < superseded)
          fs.delete(st.getPath, true)
      }
    }
  }

  private def nArticle(kind: String): String =
    if ("aeiou".indexOf(kind.headOption.getOrElse(' ').toLower) >= 0) "n"
    else ""
}
