package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned parquet snapshots on a plain filesystem (no table format
  * in this stack): upsert, compaction and opaque-artifact publication
  * share one `v<n>/` + `_SUCCESS` protocol, so a reader never sees a
  * half-written version and a concurrent scan of an older version is
  * never disturbed.
  */
object Storage {

  /** VERSIONED UPSERT — the corpus-refresh operator a nightly crawl
    * needs on plain parquet (no table format in this stack): merge
    * `updates` into the newest committed snapshot under `root` by
    * `key` (update rows replace base rows; rows whose `deleteCol` is
    * true are tombstones and drop the key; a NULL flag means "not a
    * delete" — outer-join-built update sets carry nulls where no
    * tombstone info exists; new keys append), then
    * publish the result ATOMICALLY as the next versioned subdirectory
    * — `v<n+1>/` + `_SUCCESS` marker, the exact layout
    * [[graft.stream.StreamingNearDedup.resolveSnapshot]] resolves, so
    * batch readers, the refreshing streaming index, and this writer
    * share one snapshot protocol: a reader never sees a half-written
    * version, a concurrent scan of v<n> is never disturbed, and a
    * crashed writer leaves an invisible marker-less directory.
    *
    * Plan shape at 100 TB: ONE full-outer-shaped pass — base
    * left-anti updates (kept base rows, shuffle on key) unioned with
    * the non-tombstone updates; both sides prune to the read columns.
    * The rewrite cost is the snapshot size, the standard
    * copy-on-write trade: right for periodic bulk refreshes (crawl
    * drops), wrong for single-row OLTP — that needs a real table
    * format with row-level deletes.
    *
    * Concurrency: the result is staged in a dot-prefixed work
    * directory (invisible to both the version regex and the snapshot
    * resolver) and published with a token-verified atomic directory
    * RENAME to the next free `v<n>` — two racing writers can never
    * interleave files in one version (the loser detects the collision
    * and retries to v<n+1>; see [[stageAndPublish]]).
    * Note the write-skew semantics that buys: each writer merged
    * against the snapshot that was newest when IT started, so of two
    * concurrent upserts the later version wins per overlapping key
    * and non-overlapping keys from the earlier one are absent from
    * the later snapshot — serialize upserts (one scheduler) when that
    * matters, as any copy-on-write pipeline must.
    *
    * Returns the published version directory. */
  def upsertSnapshot(spark: SparkSession, root: String, updates: DataFrame,
                     key: String, deleteCol: Option[String] = None): String = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val resolved = graft.stream.StreamingNearDedup.resolveSnapshot(spark, root)
    val hasBase = resolved != root || fs.exists(new org.apache.hadoop.fs.Path(s"$root/_SUCCESS"))
    // NULL delete flag = "not a delete" (outer-join-built update sets
    // carry nulls where no tombstone info exists): without the
    // coalesce, a null row would be anti-joined out of the base but
    // dropped from `keep` too — a silent unintended tombstone
    val keep = deleteCol
      .map(d => updates.filter(!coalesce(col(d), lit(false))).drop(d))
      .getOrElse(updates)
    val merged =
      if (!hasBase) keep
      else {
        val base = spark.read.parquet(resolved)
        base.join(updates.select(col(key)), Seq(key), "left_anti").unionByName(keep)
      }
    stageAndPublish(spark, root)(work =>
      merged.write.mode(SaveMode.Overwrite).parquet(work))
      .getOrElse(throw new IllegalStateException(
        s"unreachable: upsert publish has no supersession guard under $root"))
  }

  /** The publish half of the snapshot protocol, shared by
    * [[upsertSnapshot]] and [[compactSnapshot]]: run `write` into a
    * dot-prefixed staging directory (invisible to the version regex
    * and to [[graft.stream.StreamingNearDedup.resolveSnapshot]]),
    * then publish it with an atomic directory RENAME to a `v<n>`
    * slot, VERIFIED by a `_publisher` token: posix/HDFS rename does
    * not reliably fail on an existing target (it replaces an empty
    * directory and moves the source INTO a non-empty one — probed in
    * StorageSpec), so success means "our token is at `v<n>`", never
    * just "rename returned true". Two racing publishers therefore
    * never interleave files in one version: the loser detects the
    * collision, recovers its staging dir, and (for merging
    * publishers) retries at v<n+1>. Any
    * failure before a successful rename — a failed write (disk full,
    * schema mismatch) or publish exhaustion — removes the staging
    * dir: it is invisible to readers but would otherwise accumulate
    * across failed refreshes.
    *
    * `abortIfSupersededFrom`: for publishers whose staged content is a
    * pure REWRITE of one source version (compaction), racing past a
    * concurrent upsert must NOT happen — republishing the rewritten
    * old data as a newer version would silently shadow the upsert's
    * rows for every reader. When set, the rename target is PINNED to
    * exactly `v(source+1)` (never the next free slot): any competing
    * publish — committed or a marker-less leftover — then collides on
    * that one target, the rename fails, and the publish ABORTS
    * (staging removed, None returned). A pre-rename supersession
    * check aborts the common case without paying the rename; the
    * pinned target closes the check→rename window itself, so "a
    * rewrite can only publish directly on top of its own source"
    * holds by construction, not by timing. Merging
    * publishers (upsert) leave it None and retry through the next
    * free slot; their write-skew semantics are documented at
    * [[upsertSnapshot]].
    *
    * Returns Some(published version dir), or None on abort. */
  private def stageAndPublish(spark: SparkSession, root: String,
                              abortIfSupersededFrom: Option[String] = None)
                             (write: String => Unit): Option[String] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val work = new org.apache.hadoop.fs.Path(root,
      s".staging-${java.util.UUID.randomUUID().toString.take(8)}")
    var renamed = false
    try {
      write(work.toString)
      // Publisher token, verified after every rename: Hadoop local and
      // HDFS rename do NOT fail on an existing directory target (probed
      // in StorageSpec) — an empty target is REPLACED and a non-empty
      // target swallows the source as a CHILD, both returning true. So
      // "the rename failed" cannot carry the mutual exclusion alone;
      // tryPublish below checks the target dir really IS ours. The
      // token name carries THIS publisher's identity (the staging dir's
      // unique suffix): every protocol peer stamps a token too, so a
      // bare shared name would verify as "some publisher's dir is at
      // the target" and a loser whose staging was swallowed into the
      // winner's dir would wrongly report the WINNER's version as its
      // own publish.
      val tokenName = s"_publisher-${work.getName.stripPrefix(".staging-")}"
      fs.create(new org.apache.hadoop.fs.Path(work, tokenName)).close()
      /** Claim `next` for `work`: occupied target → false (no rename
        * attempted); rename reporting success with a competitor landed
        * in the check→rename window → pull `work` back out of the
        * competitor's directory and report false. True only when the
        * published directory is verifiably ours (OUR identity token at
        * the target's top level). */
      def tryPublish(next: org.apache.hadoop.fs.Path): Boolean = {
        if (fs.exists(next)) false
        else if (!fs.rename(work, next)) false
        else if (fs.exists(new org.apache.hadoop.fs.Path(next, tokenName))) true
        else {
          // a non-empty competitor appeared in the window and the
          // rename moved `work` INSIDE it — recover the staging dir
          // so the caller can retry or clean up
          fs.rename(new org.apache.hadoop.fs.Path(next, work.getName), work)
          false
        }
      }
      def nextFree(): Long = {
        val existing =
          if (fs.exists(rootPath))
            fs.listStatus(rootPath).filter(_.isDirectory)
              .map(_.getPath.getName).filter(_.matches("v[0-9]+")).map(_.drop(1).toLong)
          else Array.empty[Long]
        existing.foldLeft(0L)(math.max) + 1
      }
      abortIfSupersededFrom match {
        case Some(src) =>
          // Rewrite publisher: ONE attempt at the PINNED v(source+1).
          // The slot number comes from the source path itself (a flat
          // committed root — no version dirs yet — pins v1); a failed
          // rename means SOMETHING now occupies the only slot this
          // rewrite may legally take, so abort — the caller's next
          // scheduled run re-resolves and retries from the new source.
          val srcVersion = new org.apache.hadoop.fs.Path(src).getName match {
            case n if n.matches("v[0-9]+") => n.drop(1).toLong
            case _ => 0L
          }
          val next = new org.apache.hadoop.fs.Path(root, s"v${srcVersion + 1}")
          val superseded =
            graft.stream.StreamingNearDedup.resolveSnapshot(spark, root) != src
          if (!superseded && tryPublish(next)) {
            renamed = true
            Some(next.toString)
          } else None
        case None =>
          // Merging publisher: retry through the next free slot until
          // a rename wins (the loser of a race just moves to v<n+1>).
          var attempts = 0
          var published: Option[String] = None
          while (published.isEmpty && attempts < 100) {
            val next = new org.apache.hadoop.fs.Path(root, s"v${nextFree()}")
            if (tryPublish(next)) { renamed = true; published = Some(next.toString) }
            attempts += 1
          }
          Some(published.getOrElse(throw new IllegalStateException(
            s"could not publish a snapshot version under $root after $attempts attempts")))
      }
    } finally {
      if (!renamed) scala.util.Try(fs.delete(work, true))
      ()
    }
  }

  /** COMPACTION — the small-files operator every long-lived 100 TB
    * corpus needs: nightly upserts and streaming ingests accumulate
    * part files far smaller than a scan-efficient split (each file
    * costs a listing round-trip, a footer read, and a task), and on
    * plain parquet nothing rewrites them. This rewrites the newest
    * COMMITTED snapshot under `root` into
    * ceil(totalBytes / targetFileBytes) files and publishes the
    * result as the next version through the SAME atomic protocol as
    * [[upsertSnapshot]] — concurrent readers and the refreshing
    * streaming index never see a partial snapshot, a concurrent
    * upsert loses at most the rename race and retries to the next
    * version.
    *
    * Safe to run on a schedule: when the current file count is
    * already at or under the target, this is a NO-OP returning the
    * current committed version dir (no rewrite, no new version — an
    * idle nightly compaction must not grow the version chain). And
    * safe AGAINST a concurrent upsert: the staged rewrite carries
    * only the SOURCE version's data, so if any other publisher lands
    * first, this publish ABORTS (the rename target is pinned to
    * v(source+1), so a competitor collides instead of being skipped —
    * see [[stageAndPublish]]) and returns the newest committed
    * version; publishing the rewritten old data on top of the upsert
    * would silently shadow its rows for every reader. The aborted
    * compaction simply retries on its next schedule. (If the pinned
    * slot is occupied by marker-less DEBRIS rather than a committed
    * competitor, the abort would repeat forever on an otherwise-idle
    * chain — [[vacuumSnapshots]] removes such debris, so the standard
    * nightly upsert→compact→vacuum loop self-heals the wedge on the
    * next cycle.)
    *
    * Plan shape at 100 TB: one read + round-robin repartition + write
    * — the copy-on-write trade, same as the upsert itself; run it
    * when the file count (not the data) is the problem. Returns the
    * (possibly unchanged) newest committed version dir. */
  def compactSnapshot(spark: SparkSession, root: String,
                      targetFileBytes: Long = 128L << 20): String = {
    val resolved = graft.stream.StreamingNearDedup.resolveSnapshot(spark, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(resolved != root ||
      fs.exists(new org.apache.hadoop.fs.Path(s"$root/_SUCCESS")),
      s"no committed snapshot under $root to compact")
    compactFrom(spark, root, resolved, targetFileBytes)
  }

  /** [[compactSnapshot]] from an EXPLICIT source version — the seam
    * StorageSpec uses to exercise the supersession abort
    * deterministically (a competitor committed past `resolved` →
    * publish must abort and return the newer version, never shadow
    * it). Production callers go through [[compactSnapshot]], which
    * resolves the newest committed source itself. */
  private[graft] def compactFrom(spark: SparkSession, root: String,
                                 resolved: String, targetFileBytes: Long): String = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(resolved))
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
    val bytes = dataFiles.map(_.getLen).sum
    val want = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    if (dataFiles.length <= want) resolved
    else stageAndPublish(spark, root, abortIfSupersededFrom = Some(resolved))(work =>
      spark.read.parquet(resolved).repartition(want)
        .write.mode(SaveMode.Overwrite).parquet(work))
      // aborted: someone published past our source while we rewrote —
      // their data wins; report the NEW newest version
      .getOrElse(graft.stream.StreamingNearDedup.resolveSnapshot(spark, root))
  }

  /** Read the newest COMMITTED snapshot under `root` (the reader half
    * of [[upsertSnapshot]]'s protocol). */
  def readSnapshot(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(graft.stream.StreamingNearDedup.resolveSnapshot(spark, root))

  /** Versioned ARTIFACT lifecycle — the snapshot protocol applied to
    * the broadcast-sized serving artifacts (the coarse quantizer, SQ8
    * bounds, PQ codebooks: [[graft.ops.Embeddings.saveQuantizer]] /
    * [[graft.ops.Sq.saveBounds]] / [[graft.ops.Pq.saveCodebooks]]).
    * Those writers publish with a bare parquet `overwrite` today:
    * atomic per FILE but not per ARTIFACT — a serving job that loads
    * mid-overwrite sees a half-deleted directory, and a RETRAIN has no
    * way to swap the index under live consumers. Publishing through
    * [[stageAndPublish]] closes both:
    * {{{
    *   val v1 = Storage.publishArtifact(spark, root)(dir =>
    *     Embeddings.saveQuantizer(spark, cents, dir))
    *   // ... corpus drifts; retrain and swap atomically:
    *   val v2 = Storage.publishArtifact(spark, root)(dir =>
    *     Embeddings.saveQuantizer(spark, retrained, dir))
    *   // every NEW serving job picks up the newest committed version:
    *   val cents = Embeddings.loadQuantizer(spark,
    *     Storage.resolveArtifact(spark, root))
    * }}}
    * The staged write is invisible until its atomic rename to `v<n>`;
    * in-flight consumers keep reading the version dir they resolved
    * (the [[vacuumSnapshots]] grace window governs cleanup — size
    * `keepLast` so (keepLast × retrain interval) exceeds the longest
    * serving session, same contract as the data snapshots). This is
    * the missing half of the q87/q95 frozen-ingest story: frozen
    * serving ADDS rows under a fixed index; when drift demands the
    * rebuild those operators defer, the rebuild lands HERE as v(n+1)
    * (the lexical side routes through [[graft.ops.Retrieval
    * .bm25Publish]]).
    *
    * Marker guarantee: commit visibility rides the
    * top-level `_SUCCESS` marker, and an artifact writer — unlike the
    * data-snapshot writers, whose single parquet write emits one —
    * may write NESTED layouts (bm25Save: postings.parquet/ +
    * meta.parquet/, each with its own marker but none at the root) or
    * non-Spark files with no marker at all. So this publisher STAMPS
    * the top-level marker itself after `write` returns (the callback
    * returning IS success; any failure throws past the stamp and the
    * staging dir is removed). A publishArtifact version can therefore
    * never be committed-looking-but-unresolvable debris.
    *
    * Ordering under CONCURRENT retrains: this is the merging-publisher
    * path (the loser of a rename race retries at the next free slot),
    * so of two racing retrains whichever lands LAST becomes newest —
    * regardless of which trained on fresher data. Retrains are
    * normally singleton-scheduled; where they are not, use
    * [[publishArtifactSuperseding]], which pins the publish onto the
    * exact version the retrain trained against and ABORTS if anything
    * landed in between.
    *
    * Returns the published version dir. */
  def publishArtifact(spark: SparkSession, root: String)(write: String => Unit): String =
    stageAndPublish(spark, root)(stampedWrite(spark, write))
      .getOrElse(throw new IllegalStateException(
        s"unreachable: artifact publish has no supersession guard under $root"))

  /** [[publishArtifact]] PINNED to supersede exactly `source` (the
    * version dir the retrain resolved and trained against — a
    * [[resolveArtifact]] result): the rename target is v(source+1)
    * and the publish ABORTS (returns None, staging removed) when any
    * other publish landed first — the rewrite-publisher guard
    * ([[stageAndPublish]]'s abortIfSupersededFrom) applied
    * to retrains, closing the ordering inversion two racing retrains
    * would otherwise produce: an aborted retrain re-resolves, retrains
    * on the newer artifact (or decides the winner's is fresh enough),
    * and retries — it never publishes stale training on top of a
    * newer one. */
  def publishArtifactSuperseding(spark: SparkSession, root: String, source: String)
                                (write: String => Unit): Option[String] =
    stageAndPublish(spark, root, abortIfSupersededFrom = Some(source))(
      stampedWrite(spark, write))

  /** Run the artifact write callback, then guarantee the top-level
    * `_SUCCESS` marker the snapshot protocol's committed-ness rides
    * on (idempotent when the write already emitted one). */
  private def stampedWrite(spark: SparkSession, write: String => Unit)
                          (dir: String): Unit = {
    write(dir)
    val marker = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) fs.create(marker).close()
  }

  /** The newest committed artifact version under `root` — the dir to
    * hand to the load* readers. Throws when nothing is committed yet
    * (a serving job cannot start without an index; the flat-layout
    * back-compat [[graft.stream.StreamingNearDedup.resolveSnapshot]]
    * extends to data snapshots does NOT apply to artifacts, which have
    * always been written to their own dir). */
  def resolveArtifact(spark: SparkSession, root: String): String = {
    val resolved = graft.stream.StreamingNearDedup.resolveSnapshot(spark, root)
    require(resolved != root, s"no committed artifact version under $root")
    resolved
  }

  /** VACUUM — the storage-lifecycle closer of the snapshot protocol:
    * [[upsertSnapshot]]/[[compactSnapshot]] only ever ADD versions,
    * so a nightly upsert+compact loop leaks a full corpus copy per
    * run forever. This deletes SUPERSEDED version directories,
    * keeping (a) the newest committed version and every committed
    * version after it, and (b) the `keepLast` most recent committed
    * versions before it (time-travel / pinned-reader grace).
    * Marker-less `v<n>` directories are DEBRIS at any position and
    * are removed: a protocol publish appears ATOMICALLY with its
    * `_SUCCESS` (the marker is written into the staging dir before
    * the rename, and the rename is atomic), so there is no in-flight
    * state in which a v-named marker-less directory is a legitimate
    * pending publish — and removing one also un-wedges a compaction
    * whose pinned v(source+1) slot such debris would otherwise
    * occupy forever. Out-of-protocol writers must not
    * hand-create `v<n>` names; that is the protocol's namespace.
    *
    * Concurrency contract, spec-proven (StorageSpec):
    *  - never races the newest-complete resolution: only versions
    *    STRICTLY OLDER than the newest committed one are candidates,
    *    and [[graft.stream.StreamingNearDedup.resolveSnapshot]] never
    *    returns those — a concurrent publish only ADDS newer
    *    versions, which widens (never shrinks) the kept set;
    *  - a reader pinned to a KEPT version is unaffected (deletion
    *    touches only versions older than the grace window);
    *  - idempotent under crash/retry: deletion of a version directory
    *    is self-contained, so a vacuum that died mid-delete leaves a
    *    subset of the garbage, and the next run removes the rest — a
    *    delete that FAILS (permissions, open handle) is likewise just
    *    left for the next run, and is NOT reported as deleted.
    *
    * SCAN-GRACE ASSUMPTION (document it, don't pretend otherwise —
    * every snapshot store has this window): a reader that resolved
    * v(n) and is still scanning when v(n) ages past the grace window
    * loses its files mid-scan. `keepLast` IS the grace contract —
    * size it so (keepLast × refresh interval) exceeds the longest
    * scan, exactly like a table format's vacuum retention. Readers
    * needing more pin a version and hold it outside the vacuum
    * schedule.
    *
    * Returns the deleted version directories (diagnostics /
    * audit). */
  def vacuumSnapshots(spark: SparkSession, root: String, keepLast: Int = 2): Seq[String] = {
    require(keepLast >= 1, "keepLast must keep at least the newest committed version")
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newest = graft.stream.StreamingNearDedup.resolveSnapshot(spark, root)
    if (newest == root || !fs.exists(rootPath)) return Nil // nothing versioned to vacuum
    val newestName = new org.apache.hadoop.fs.Path(newest).getName
    // resolveSnapshot accepts ANY marker-carrying directory; if a
    // foreign non-`v<n>` dir resolved as newest, this root is not
    // (only) under the versioned protocol — refuse to reason about
    // ordering and no-op rather than crash or delete anything
    if (!newestName.matches("v[0-9]+")) return Nil
    val newestV = newestName.drop(1).toLong
    val versions = fs.listStatus(rootPath).filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.matches("v[0-9]+"))
      .map(p => p.getName.drop(1).toLong -> p)
      .sortBy(_._1)
    def committed(p: org.apache.hadoop.fs.Path): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
    // the grace window: the newest committed version plus the
    // keepLast-1 committed versions directly before it
    val keptCommitted = versions.filter { case (v, p) => v <= newestV && committed(p) }
      .map(_._1).sorted.takeRight(keepLast).toSet
    // victims: superseded committed versions outside the grace window,
    // plus marker-less debris at ANY version (publishes are atomic
    // with their marker — see the scaladoc contract)
    val victims = versions.filter { case (v, p) =>
      (v < newestV && !keptCommitted.contains(v)) || !committed(p)
    }
    // report only what was actually removed: a failed delete stays on
    // disk and belongs to the next run's retry, not this audit list
    victims.filter { case (_, p) => fs.delete(p, true) }
      .map(_._2.toString).toSeq
  }
}
