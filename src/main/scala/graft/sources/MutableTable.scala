package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.roaringbitmap.RoaringBitmap

/** Snapshot-versioned mutable parquet table — the Spark re-expression of
  * what DuckLake gives the reference (SURVEY §7.4): ACID-ish
  * UPDATE/DELETE/PK-errors over immutable parquet files.
  *
  * Layout (a micro-lake: snapshot id + file list + delete vectors, the
  * shape of DuckLake's catalog tables):
  * {{{
  *   root/data/part-<uuid>.parquet     immutable data files
  *   root/manifest-<v>.json            files and delete vectors of version v
  *   root/_version                     current version pointer (atomic swap)
  * }}}
  *
  * - INSERT appends new files and a new manifest — old files untouched.
  * - DELETE/UPDATE are merge-on-read: a DELETE records the matched rows'
  *   positions in its files' delete vectors ([[DeleteVectors]], held in
  *   the manifest) and writes no data; an UPDATE is that delete plus an
  *   append of the updated rows. A file whose every row is deleted
  *   leaves the manifest. Every reader — snapshot frames, the driver-
  *   served key read, the primary-key checks and DML discovery — skips
  *   the deleted positions. The same mechanics as DuckLake's delete
  *   files, Delta's deletion vectors and Iceberg's position deletes.
  * - PRIMARY KEY duplicate inserts raise `DuplicateKeyException`
  *   (tests/sql/error_status.test contract; Spark itself enforces no
  *   keys, so this is the engine-level anti-join check from SURVEY §2.B).
  * - Whole-file rewriting lives only in micro-compaction (folded into a
  *   driver-side commit that adds a file) and `checkpoint()`, which
  *   compacts the file set (maintenance/mod.rs:24-223 — `CHECKPOINT` ≈
  *   compaction job; the reference's cross-instance Postgres advisory
  *   lock becomes a single-writer assumption here). Both fold the delete
  *   vectors of the files they merge back into the new file.
  * - Old manifests remain readable: `asOf(v)` is snapshot time travel.
  *
  * Commit protocol (SURVEY §7.4): every mutation stages — it writes its
  * new data files and manifest-v on top of a base version, and moves no
  * pointer — and publishing atomically swaps `_version` to v. A
  * transaction's statement only stages (the catalog publishes at
  * COMMIT); an autocommit statement is the one-statement transaction:
  * it stages on the published version and publishes under the writer
  * monitor. A staged manifest that is never published (a failed
  * publish, a ROLLBACK, a conflicted COMMIT, an intermediate one a
  * COMMIT retires) is deleted with the data files it names that its base
  * manifest does not ([[discardStaged]]). Readers resolve the pointer
  * once and read an immutable manifest, so a concurrent commit never
  * yields a torn read. Each manifest is parsed once while it stays in
  * the table's manifest cache.
  *
  * Reads are built from the manifest alone. Every frame of the table —
  * `df`/`asOf` (so the catalog's view refresh on each publish), and the
  * DML paths' internal scans (`scan`) — is a parquet relation over a
  * [[ManifestFileIndex]] of exactly the manifest's files, filtered by
  * its delete vectors when it has any: no Hadoop path check, glob or
  * listing per read. Each data file is stat'ed once over NIO and its
  * status kept until vacuum drops the file; a snapshot with a missing
  * file throws when its frame is built, and a frame whose file vanished
  * later fails at scan, so a read is never partial.
  *
  * A data file's column stats live only in its parquet footer:
  * [[statsFor]] reads them once per file and keeps them. The writers
  * seed that cache as they write — the driver-side paths from
  * [[DriverDml]]'s closed footer, the planned (Spark-job) paths from the
  * footer read as a staged file is adopted — so only a table opened by
  * another process reads footers back, once per file.
  *
  * Writes hold the table's writer monitor.
  */
final class MutableTable private (
    val spark: SparkSession,
    val root: Path,
    val schema: StructType,
    val primaryKey: Option[String]) {

  import MutableTable.{Compacted, Manifest}

  final class DuplicateKeyException(msg: String) extends RuntimeException(msg)

  private def dataDir: Path = root.resolve("data")
  private def versionFile: Path = root.resolve("_version")

  /** Normalized absolute path of the directory holding this table's
    * data files, for tools that measure what the table stores.
    */
  def dataDirKey: String = dataDir.toAbsolutePath.normalize.toString

  /** This table's key in the micro-lake's [[RowCache]]. */
  private[sources] val cacheKey: String = root.toAbsolutePath.normalize.toString

  /** A data file's decoded rows, through the row cache; None when the
    * driver codec cannot read the file.
    */
  private def cachedRows(f: String): Option[IndexedSeq[Array[Any]]] =
    RowCache.shared.getOrLoad(cacheKey, f)(DriverDml.readRows(dataDir.resolve(f), schema))

  /** Visit, in file order and through the row cache, each row of data
    * file `f` whose position `deletes` leaves and for which `bound` (a
    * predicate from [[DriverDml.bind]]; every live row when None) is
    * TRUE — the one driver-side pass over a file's live matching rows.
    * False when the codec cannot read the file.
    */
  private def foreachLive(f: String, deletes: DeleteVectors,
      bound: Option[org.apache.spark.sql.catalyst.expressions.Expression] = None)(
      visit: (Int, Array[Any]) => Unit): Boolean = {
    val rows = cachedRows(f).getOrElse(return false)
    val dead = deletes.get(f).orNull
    val p = bound.orNull
    var i = 0
    while (i < rows.length) {
      if ((dead == null || !dead.contains(i)) &&
          (p == null || p.eval(DriverDml.toInternal(rows(i))) == true))
        visit(i, rows(i))
      i += 1
    }
    true
  }

  /** A data file's row count from its stats; -1 when unknown. */
  private def rowCountOf(f: String): Long =
    statsFor(f).values.headOption.map(_.rows).getOrElse(-1L)

  /** Do `files` hold a known number of rows within the driver-side
    * bound? Every driver path declines past it.
    */
  private def withinDriverBound(files: Seq[String]): Boolean = {
    val counts = files.map(rowCountOf)
    !counts.exists(_ < 0) && counts.sum <= driverMaxRows
  }

  def currentVersion: Long = new String(Files.readAllBytes(versionFile)).trim.toLong

  // In-process writer serialization: concurrent server sessions share
  // one MutableTable instance per name, and every mutator is a
  // read-version -> stage -> commit(v+1) sequence -- without a lock two
  // writers both commit v+1 and one update is lost. Cross-PROCESS
  // writes remain the documented single-writer assumption (the
  // reference's Postgres advisory lock, maintenance/mod.rs).
  private val writeLock = new Object

  /** Run `body` holding the writer monitor. The outermost acquisition on
    * a thread is one lake write on `status.json` (with its wait for the
    * lock and its hold of it); a reentrant one — `publish` inside a
    * mutator or a catalog commit — runs inside the write that holds it.
    */
  private def locked[T](body: => T): T =
    if (Thread.holdsLock(writeLock)) body
    else {
      val asked = System.nanoTime()
      writeLock.synchronized {
        val got = System.nanoTime()
        try body
        finally graft.ServeCounters.lakeWrite(got - asked, System.nanoTime() - got)
      }
    }

  // Isolated session for the INTERNAL DML frames (discovery scan, PK
  // check, planned UPDATE's append): AQE's shuffle-stage materialization costs one
  // extra JOB per aggregate, which on the point-DML path is pure
  // latency — these aggregates move a handful of rows over ≤4
  // partitions, exactly the case runtime re-planning cannot help.
  // Caller-provided DataFrames keep their own session (and AQE).
  private lazy val dmlSession: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    // committer algorithm v2 skips the final output-directory rename
    // pass: its non-atomicity caveat does not apply here because a
    // staged write's VISIBILITY is governed by the manifest pointer
    // swap, never by the output directory — adoption moves the part
    // files out regardless
    // UNPREFIXED key: SessionState.newHadoopConf copies session-conf
    // entries into the per-query Hadoop conf verbatim (no spark.hadoop.
    // prefix stripping at the session layer — review-verified against
    // the 4.1.2 bytecode), so the prefixed spelling never reaches
    // FileOutputCommitter
    s.conf.set("mapreduce.fileoutputcommitter.algorithm.version", "2")
    s
  }

  private def manifestPath(v: Long): Path = root.resolve(s"manifest-$v.json")

  // fd-leak-safe directory listing — ONE definition in the companion
  // (r19 review: MutableCatalog.recoverPendingCommits re-implemented
  // the stream-closing boilerplate inline)
  private def listDir(p: Path): Seq[Path] = MutableTable.listDir(p)

  // Per-file column stats, keyed by data-file name: a cache of the
  // files' footers. A data file is immutable once adopted, so its stats
  // are too; the writers seed entries from the footers they produce.
  private val fileStats =
    scala.collection.concurrent.TrieMap.empty[String, Map[String, ColStats]]

  /** Stats for one data file, read from its footer on first use and
    * kept (empty when the footer cannot be read: the file is then never
    * pruned, and is read again next time). Used by the catalog-style
    * pruning here and by the optimizer's scan-prune rule through the
    * table's [[ManifestFileIndex]].
    */
  def statsFor(fileName: String): Map[String, ColStats] =
    try fileStats.getOrElseUpdate(fileName, FileStats.fromFooter(dataDir.resolve(fileName)))
    catch { case scala.util.control.NonFatal(_) => Map.empty }

  // Parsed manifests by version. A written manifest never changes and
  // allocVersion never reuses a number in-process, so an entry is exact
  // until the manifest is deleted (stageManifest, discardStaged drop it).
  private val manifests = new graft.LruCache[Long, Manifest](64)

  /** Manifest `v`, parsed once while cached. */
  private def manifest(v: Long): Manifest =
    manifests.getOrElseUpdate(v)(parseManifest(new String(Files.readAllBytes(manifestPath(v)))))

  // minimal JSON, as writeManifest writes it:
  //   {"files": ["a.parquet", ...], "deletes": {"a.parquet": "<base64>", ...}}
  // the files array is the FIRST bracket pair (names contain no
  // brackets), and neither names nor base64 hold quotes, braces or
  // commas. A manifest written before stats moved to the footers also
  // holds a "stats" array after these; it is not read.
  private def parseManifest(txt: String): Manifest = {
    def section(key: String, open: Char, close: Char): Option[String] = {
      val idx = txt.indexOf("\"" + key + "\"")
      if (idx < 0) None
      else {
        val o = txt.indexOf(open, idx)
        Some(txt.substring(o + 1, txt.indexOf(close, o)).trim)
      }
    }
    val files = section("files", '[', ']').filter(_.nonEmpty)
      .map(_.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq)
      .getOrElse(Seq.empty)
    Manifest(files, section("deletes", '{', '}').map(DeleteVectors.parse).getOrElse(DeleteVectors.empty))
  }

  private def writeManifest(v: Long, files: Seq[String], deletes: DeleteVectors): Unit = {
    val fs = files.map(f => "\"" + f + "\"").mkString("[", ", ", "]")
    Files.write(manifestPath(v), s"""{"files": $fs, "deletes": ${deletes.json}}""".getBytes)
    manifests.put(v, Manifest(files, deletes))
  }

  /** Write `files` and `deletes` as a new staged manifest and return its
    * version; nothing is published. A torn manifest write leaves no
    * manifest behind (r19 review): on disk it would pin data files the
    * caller's cleanup is about to delete as "live" against vacuum, and
    * let restore/asOf of it commit a version whose reads throw. Callers
    * hold writeLock.
    */
  private def stageManifest(files: Seq[String], deletes: DeleteVectors): Long = {
    val nv = allocVersion()
    try writeManifest(nv, files, deletes)
    catch {
      case e: Throwable =>
        manifests.remove(nv)
        Files.deleteIfExists(manifestPath(nv))
        throw e
    }
    nv
  }

  /** Run mutation `stage` on the published version and publish the
    * version it staged, under the writer monitor — the autocommit
    * statement as a one-statement transaction. Returns the staged
    * (version, rows).
    */
  private[sources] def autocommit(stage: Long => (Long, Long)): (Long, Long) = locked {
    val base = currentVersion
    val staged = stage(base)
    publishStaged(base, staged._1)
    staged
  }

  /** Publish staged version `v` of base `base` (a no-op when the
    * mutation staged nothing and `v` is the base itself). A publish that
    * fails discards `v` ([[discardStaged]]) and rethrows.
    */
  private def publishStaged(base: Long, v: Long): Unit =
    if (v != base)
      try publish(v)
      catch { case e: Throwable => discardStaged(v, base); throw e }

  /** Atomically swing the version pointer to an already-written manifest
    * — the §7.4 commit point. Used directly by the catalog's transaction
    * commit: every staged manifest becomes visible with ONE pointer swap
    * per table.
    */
  def publish(version: Long): Unit = locked {
    require(Files.exists(manifestPath(version)), s"unknown version $version")
    val tmp = root.resolve(s"_version.tmp.${UUID.randomUUID()}")
    Files.write(tmp, version.toString.getBytes)
    Files.move(tmp, versionFile, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    onPublish()
  }

  /** Runs after every publish, under the writer monitor; it must not
    * throw, since the pointer has already moved. The catalog hangs its
    * view refresh here (MutableCatalog.register).
    */
  @volatile private[sources] var onPublish: () => Unit = () => ()

  // Version allocator: staged (transactional) manifests are written
  // WITHOUT moving the pointer, so `currentVersion + 1` can collide with
  // a staged number — allocation tracks the max manifest ever written
  // instead (lazily initialized from disk so load() of an existing table
  // works). Callers hold writeLock.
  private var maxVersionCache: Long = -1L
  private def allocVersion(): Long = {
    if (maxVersionCache < 0) {
      val onDisk = listDir(root).iterator
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("manifest-") && n.endsWith(".json"))
        .map(_.stripPrefix("manifest-").stripSuffix(".json").toLong)
        .foldLeft(-1L)(math.max)
      maxVersionCache = math.max(onDisk, scala.util.Try(currentVersion).getOrElse(-1L))
    }
    maxVersionCache += 1
    maxVersionCache
  }

  /** Roll the table forward to a NEW version whose contents are those of
    * `version` — the rollback primitive (SURVEY §7.4 "committed
    * atomically via the catalog pointer swap"). Roll-FORWARD, not
    * pointer rewind: version numbers stay monotonic, every manifest
    * written stays immutable, and `asOf` time travel over the rolled-back
    * interval keeps working. Requires the target manifest's files to
    * still exist (i.e. no intervening `vacuum`). The new manifest is
    * staged on `version`, the manifest it copies, so a failed publish
    * deletes only the copy.
    */
  def restore(version: Long): Long = locked {
    require(Files.exists(manifestPath(version)), s"unknown version $version")
    if (version == currentVersion) version
    else {
      val m = manifest(version)
      val nv = stageManifest(m.files, m.deletes)
      publishStaged(version, nv)
      nv
    }
  }

  /** Current table contents. */
  def df: DataFrame = asOf(currentVersion)

  /** Snapshot read of any retained version. Throws when one of its data
    * files is gone (vacuumed): a snapshot is never read partially.
    */
  def asOf(version: Long): DataFrame = {
    val m = manifest(version)
    scan(m.files, m.deletes, spark)
  }

  // Data files' statuses, stat'ed once: a data file never changes after
  // it is adopted, and vacuum/dropStaged drop the entry with the file.
  private val fileStatuses =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.hadoop.fs.FileStatus]

  /** A parquet scan of data files `files` without the rows `deletes`
    * names, in `session` (by default the internal DML session), built
    * from the manifest alone: a relation over a [[ManifestFileIndex]] of
    * the files, which the optimizer's scan-prune rule narrows by
    * [[statsFor]]. Throws NoSuchFileException for a missing file.
    */
  private def scan(files: Seq[String], deletes: DeleteVectors = DeleteVectors.empty,
      session: SparkSession = dmlSession): DataFrame =
    new ManifestFileIndex(files.map(f =>
      fileStatuses.getOrElseUpdate(f, ManifestFileIndex.stat(dataDir.resolve(f)))), statsFor)
      .frame(session, schema, deletes)

  /** Move the part files of a staged spark write into data/, returning
    * their new (unique) names.
    */
  private def adoptStaged(staged: Path): Seq[String] = {
    val parts = listDir(staged)
      .filter(p => p.getFileName.toString.startsWith("part-") && p.toString.endsWith(".parquet"))
    parts.map { p =>
      val name = s"part-${UUID.randomUUID()}.parquet"
      val dest = dataDir.resolve(name)
      Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE)
      // column bounds off the footer the writer just produced — pure
      // metadata read, no job — seed the stats cache
      try fileStats(name) = FileStats.fromFooter(dest)
      catch { case _: Exception => () } // statless file: never pruned, still correct
      name
    }
  }

  /** Write a batch into a staged directory with LAKE-WRITER FILE SIZING:
    * one file per ~32 MB of plan-estimated data (micro-lake scale; a
    * cluster writer targets 128-512 MB the same way), never more files
    * than source partitions. Without this every DML batch landed one
    * file PER SOURCE TASK — a 100-row VALUES insert wrote 8 files, ten
    * loads made an 80-file usertable, and every subsequent scan paid 80
    * tasks (round-14 YCSB latency diagnosis). `exactFiles` (checkpoint/
    * compaction) bypasses the estimate.
    */
  private def stageWrite(data: DataFrame, exactFiles: Option[Int] = None,
      knownBytes: Option[Long] = None): Seq[String] = {
    val staged = root.resolve(s"stage-${UUID.randomUUID()}")
    val aligned = BatchAlign.alignToSchema(data, schema)
    val out = exactFiles match {
      case Some(n) => aligned.repartition(n)
      case None =>
        // callers that copy rows of EXISTING files pass their on-disk
        // size (an fstat per file) — plan-estimated stats would run a
        // whole optimizer pass just to size the output
        val bytes = knownBytes.map(BigInt(_))
          .getOrElse(aligned.queryExecution.optimizedPlan.stats.sizeInBytes)
        val target = ((bytes / (32L << 20)) + 1).min(BigInt(10000)).max(BigInt(1)).toInt
        // coalesce never RAISES the partition count, so no probe needed
        // — touching `aligned.rdd` here would finalize the adaptive plan
        // and execute every shuffle stage once, doubling shuffle-bearing
        // DML (the write below re-executes; no exchange reuse across
        // executions)
        aligned.coalesce(target)
    }
    out.write.parquet(staged.toString)
    val names = adoptStaged(staged)
    val walk = Files.walk(staged)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
    finally walk.close()
    names
  }

  /** Append rows; enforces the primary key when declared — duplicates in
    * the batch or against existing rows error, nothing is committed.
    */
  def insert(data: DataFrame): Long = autocommit(insertCore(_, data))._2

  /** The INSERT of `data` on top of `base`, as a new staged manifest
    * (see [[autocommit]]). Returns (stagedVersion, rowCount). Callers
    * hold writeLock.
    */
  private[sources] def insertCore(base: Long, data: DataFrame): (Long, Long) = {
    // WRITE FIRST, then validate off the staged files' own footer stats
    // (round-15 restructure). The previous shape semi-joined the batch
    // against the WHOLE table per insert — a full-table scan per append,
    // which at 100 TB is the difference between an append and a table
    // pass. Staged-first instead: the just-written files carry pk
    // bounds, so the clash check prunes the table side to bound-
    // OVERLAPPING files — for monotone keys (the append-only common
    // case) that set is EMPTY and no table byte is read. The staged
    // files are unreferenced by any manifest until the commit below, so
    // a failed check just deletes them (vacuum would reclaim them after
    // a crash anyway).
    val m = manifest(base)
    val newFiles = stageWrite(data)
    try {
      primaryKey.foreach(pk => pkCheck(newFiles, pk, m.files, m.deletes))
      // row count straight off the footers — no counting job
      val n = newFiles.map(f =>
        statsFor(f).values.headOption.map(_.rows).getOrElse(-1L)) match {
        case rs if rs.nonEmpty && rs.forall(_ >= 0) => rs.sum
        case _ =>
          if (newFiles.isEmpty) 0L
          else scan(newFiles).count()
      }
      (stageManifest(m.files ++ newFiles, m.deletes), n)
    } catch { case e: Throwable => dropStaged(newFiles); throw e }
  }

  /** Driver-side small-batch INSERT (VERDICT r15 #3): rows already
    * aligned+coerced to the schema land via one parquet-mr write — no
    * Spark job, no planning. The pk in-batch check runs over the
    * in-memory rows (same canonicalization as the planned path); the
    * clash-vs-table check prunes table files by the staged file's own
    * footer bounds, reads the overlapping ones' keys from the row cache,
    * and falls to the planned aggregate only past the driver bound.
    * The written rows enter the row cache. None = schema unsupported (caller falls back); DuplicateKeyException
    * propagates like the planned path's. Publishes as [[autocommit]] does,
    * inline, since the core may decline.
    */
  def insertRowsDirect(rows: Seq[Array[Any]]): Option[Long] = locked {
    val base = currentVersion
    insertRowsCore(base, rows).map { case (v, n) => publishStaged(base, v); n }
  }

  /** The driver-side INSERT of `rows` on top of `base`, as a new staged
    * manifest, like [[insertCore]]; None when the driver path declines.
    * Callers hold writeLock.
    */
  private[sources] def insertRowsCore(base: Long, rows: Seq[Array[Any]]): Option[(Long, Long)] = {
    // row cap (review finding, round 16): a bulk literal batch past the
    // driver bound belongs to the planned path — parallel write, 32 MB
    // file sizing — not a single-threaded one-file parquet-mr write
    if (!DriverDml.supported(schema) || rows.isEmpty ||
      rows.size > driverMaxRows) return None
    val m = manifest(base)
    // in-batch duplicate check, in memory — keys canonicalized so the
    // verdict matches the planned aggregate's grouping semantics
    primaryKey.foreach { pk =>
      val pi = schema.fieldIndex(pk)
      val seen = new java.util.HashSet[Any]()
      var nullSeen = false
      rows.foreach { r =>
        val v = MutableTable.canonicalKey(r(pi))
        if (v == null) {
          if (nullSeen) throw new DuplicateKeyException(s"duplicate key in batch: $pk=null")
          nullSeen = true
        } else if (!seen.add(v))
          throw new DuplicateKeyException(s"duplicate key in batch: $pk=$v")
      }
    }
    val name = writeDriverFile(rows).getOrElse(return None) // codec hiccup: planned path decides
    try {
      primaryKey.foreach { pk =>
        // clash vs the table: the in-batch check is done, so only files
        // whose bounds overlap the batch's can clash (all of them when
        // the bounds are unusable — e.g. a NULL pk in the batch). Their
        // key column is checked over the row cache within the driver
        // bound; beyond it, the planned aggregate decides. In YCSB the
        // connections interleave key ranges, so a new key routinely
        // falls inside the compacted file's bounds: the aggregate cost
        // 227-296 ms p50 per such insert (4-core host) against 49-55 ms
        // for a non-overlapping one.
        val overlapping = pkOverlapping(Seq(name), pk, m.files)
        if (overlapping.nonEmpty && !pkClashDriverSide(overlapping, m.deletes, rows, pk))
          pkCheck(Seq(name), pk, overlapping, m.deletes)
      }
      Some((commitCompacted(m.files :+ name, m.deletes), rows.size.toLong))
    } catch {
      case e: Throwable =>
        dropStaged(Seq(name))
        throw e
    }
  }

  /** Write `rows` as a new data file through the driver codec, keeping
    * its footer stats and entering its rows in the row cache (write-
    * through). None when the codec fails; the file is cleaned up.
    */
  private def writeDriverFile(rows: Seq[Array[Any]]): Option[String] = {
    val name = s"part-${UUID.randomUUID()}.parquet"
    try fileStats(name) = DriverDml.writeRows(dataDir.resolve(name), schema, rows)
    catch {
      case _: Exception =>
        dropStaged(Seq(name))
        return None
    }
    RowCache.shared.put(cacheKey, name, rows.toIndexedSeq)
    Some(name)
  }

  /** Stage `files` — the last one a file a driver-side DML just wrote —
    * and `deletes` as a new version, folding the small files into one
    * first ([[compactSmallDriverSide]]). Returns the version. A fresh
    * file the fold took in is deleted at once: no manifest names it.
    */
  private def commitCompacted(files: Seq[String], deletes: DeleteVectors): Long = {
    val c = compactSmallDriverSide(files, deletes)
    if (c.merged.nonEmpty && !c.files.contains(files.last)) dropStaged(Seq(files.last))
    val nv =
      try stageManifest(c.files, c.deletes)
      catch {
        case e: Throwable => // failed commit never referenced the merge
          dropStaged(c.merged.toSeq)
          throw e
      }
    graft.ServeCounters.lakeRowsRewritten.addAndGet(c.mergedRows)
    nv
  }

  /** Primary-key clash check of a driver-side batch against table
    * `files`, over the row cache: true when it ran to the end (a clash
    * throws), false when the files exceed the driver bound or the codec
    * cannot read one — the planned aggregate then decides. Verdicts
    * match that aggregate's: a NULL key never clashes with a table row
    * (join semantics), and keys compare canonicalized
    * ([[MutableTable.canonicalKey]]: -0.0 = 0.0, NaN = NaN).
    */
  private def pkClashDriverSide(files: Seq[String], deletes: DeleteVectors,
      batch: Seq[Array[Any]], pk: String): Boolean = {
    if (!withinDriverBound(files)) return false
    val pi = schema.fieldIndex(pk)
    val keys = new java.util.HashSet[Any]()
    batch.foreach { r =>
      val k = MutableTable.canonicalKey(r(pi))
      if (k != null) keys.add(k)
    }
    files.forall(f => foreachLive(f, deletes) { (_, r) =>
      val k = MutableTable.canonicalKey(r(pi))
      if (k != null && keys.contains(k))
        throw new DuplicateKeyException(s"duplicate key violates primary key: $pk=$k")
    })
  }

  /** Rows of `version` matching `cond` — a resolved predicate over this
    * table's columns (AttributeReferences by name) — evaluated on the
    * driver: candidate files are pruned by manifest stats, their rows
    * come from the row cache without the positions the version's delete
    * vectors name, and the predicate is bound and evaluated exactly as
    * the driver-side DML does. The rows are in schema
    * order, as InternalRows. Left(reason) when the driver cannot serve
    * the read (`unsupported_type`: a column type or file layout the
    * codec lacks; `over_bound`: candidate rows past the driver-side DML
    * bound, or unknown) — the caller then runs the planned read.
    */
  def readMatching(version: Long,
      cond: org.apache.spark.sql.catalyst.expressions.Expression)
      : Either[String, IndexedSeq[org.apache.spark.sql.catalyst.InternalRow]] = {
    if (!DriverDml.supported(schema)) return Left("unsupported_type")
    val bound = DriverDml.bind(cond, schema).getOrElse(return Left("unsupported_type"))
    val candidates = candidateFilesExpr(version, cond)
    if (!withinDriverBound(candidates)) return Left("over_bound")
    val deletes = manifest(version).deletes
    val out = mutable.ArrayBuffer.empty[org.apache.spark.sql.catalyst.InternalRow]
    val read = candidates.forall(f =>
      foreachLive(f, deletes, Some(bound))((_, r) => out += DriverDml.toInternal(r)))
    if (read) Right(out.toIndexedSeq) else Left("unsupported_type")
  }

  /** Driver-side merge-on-read UPDATE/DELETE (VERDICT r15 #3): when the
    * stats-pruned candidate set is small, every column type is codec-
    * supported, the predicate micro-resolves, and (for UPDATE) every
    * assignment folds to a literal — discovery and commit run
    * in-process: read candidates through the row cache (parquet-mr on a
    * miss), evaluate the BOUND predicate per live row (Spark's own
    * expression eval, so semantics are Catalyst's — three-valued logic
    * included), and record the matched positions in the delete vectors
    * ([[commitDml]]); an UPDATE also writes the updated rows as one new
    * file. No Spark job and no planning. None = any gate failed; the
    * caller runs the planned path.
    */
  // fast-path hit counter (observability for specs and probes: proves a
  // statement actually took the in-process path, not the planned one)
  private[sources] val driverDmlHits = new java.util.concurrent.atomic.AtomicLong()

  private def driverDml(base: Long, cond: Column,
      set: Option[Map[String, Column]]): Option[(Long, Long)] = {
    if (!DriverDml.supported(schema)) return None
    val m = manifest(base)
    val resolved = quickResolve(cond).getOrElse(return None)
    val bound = DriverDml.bind(resolved, schema).getOrElse(return None)
    // fold SET assignments before any IO (UPDATE only)
    val utc = DriverDml.utcSession(spark) // once per statement, not per SET column
    val assignments: Option[Seq[(Int, Any)]] = set.map { sm =>
      sm.toSeq.map { case (k, c) =>
        val i = schema.fieldIndex(k)
        val e = try org.apache.spark.sql.graft.bridge.unresolvedExpression(c)
          catch { case _: Exception => return None }
        i -> DriverDml.foldAssignment(e, schema.fields(i).dataType, utc).getOrElse(return None)
      }
    }
    val candidates = candidateFilesExpr(base, resolved)
    if (!withinDriverBound(candidates)) return None
    val hits = mutable.LinkedHashMap.empty[String, RoaringBitmap]
    val updated = mutable.ArrayBuffer.empty[Array[Any]]
    candidates.foreach { f =>
      val hit = new RoaringBitmap()
      val read = foreachLive(f, m.deletes, Some(bound)) { (i, r) =>
        hit.add(i)
        assignments.foreach { as => val nr = r.clone(); as.foreach { case (c, v) => nr(c) = v }; updated += nr }
      }
      if (!read) return None
      if (!hit.isEmpty) hits(f) = hit
    }
    val nv =
      if (hits.isEmpty) base
      else {
        val appended =
          if (updated.isEmpty) Seq.empty
          else Seq(writeDriverFile(updated.toSeq).getOrElse(return None))
        try commitDml(m, hits.toMap, appended, compact = appended.nonEmpty)
        catch { case e: Throwable => dropStaged(appended); throw e }
      }
    driverDmlHits.incrementAndGet()
    graft.ServeCounters.driverRewrites.incrementAndGet()
    Some((nv, hits.valuesIterator.map(_.getLongCardinality).sum))
  }

  /** Stage a DELETE or UPDATE on manifest `m`: the positions `hits`
    * join the delete vectors, a file whose every row is then deleted
    * leaves the manifest, and `appended` (an UPDATE's new rows, one per
    * position) joins it — through micro-compaction when `compact`, for a
    * driver-written file. Returns the new version.
    */
  private def commitDml(m: Manifest, hits: Map[String, RoaringBitmap], appended: Seq[String],
      compact: Boolean): Long = {
    val all = m.deletes.plus(hits)
    val gone = hits.keySet.filter(f => all.get(f).exists(_.getLongCardinality == rowCountOf(f)))
    val files = m.files.filterNot(gone) ++ appended
    val deletes = all.filterFiles(f => !gone(f))
    val nv = if (compact) commitCompacted(files, deletes) else stageManifest(files, deletes)
    val matched = hits.valuesIterator.map(_.getLongCardinality).sum
    graft.ServeCounters.lakeRowsDeleted.addAndGet(matched)
    if (appended.nonEmpty) graft.ServeCounters.lakeRowsRewritten.addAndGet(matched)
    nv
  }

  // Above this many candidate rows the driver paths decline: beyond it
  // the distributed path's parallelism beats the in-process pass (and
  // driver memory stays bounded). A point DML against a YCSB-shaped
  // table touches a few thousand rows; cluster-sized files take the
  // planned path by construction.
  private val driverMaxRows = 50000L

  // Small-file micro-compaction, piggybacked on a driver-side commit
  // that adds a file (INSERT, UPDATE): a point-write workload adds one
  // tiny file per statement, and an uncompacted tail degrades every
  // later scan (the classic lake small-file problem — table services in
  // Iceberg/Delta exist for it; the reference's maintenance loop
  // checkpoints the same way, maintenance/mod.rs:24-223). Once
  // `compactTriggerFiles` live files are each under `compactSmallRows`,
  // their live rows merge into ONE file inside the same manifest commit,
  // and their delete vectors go with them — ~15 ms driver-side every 16
  // added files instead of an unbounded scan-latency slide. Old
  // manifests still reference the originals (time travel intact; vacuum
  // reclaims).
  private val compactTriggerFiles = 16
  private val compactSmallRows = 5000L

  private def compactSmallDriverSide(files: Seq[String], deletes: DeleteVectors): Compacted = {
    val unchanged = Compacted(files, deletes, None, 0L)
    if (!DriverDml.supported(schema)) return unchanged
    val small = files.filter { f => val r = rowCountOf(f); r >= 0 && r <= compactSmallRows }
    if (small.size < compactTriggerFiles || !withinDriverBound(small)) return unchanged
    val rows = mutable.ArrayBuffer.empty[Array[Any]]
    // unreadable driver-side: keep as-is
    if (!small.forall(f => foreachLive(f, deletes)((_, r) => rows += r))) return unchanged
    val name = writeDriverFile(rows.toSeq).getOrElse(return unchanged)
    val smallSet = small.toSet
    Compacted(files.filterNot(smallSet) :+ name, deletes.filterFiles(f => !smallSet(f)),
      Some(name), rows.size.toLong)
  }

  /** The table `files` whose `pk` bounds overlap those of `newFiles` —
    * the only ones a new key can clash with. All of them unless every
    * new file has bounds and no NULL key (min/max ignore nulls, so a
    * null clash would slip the overlap test); a table file without
    * bounds always overlaps.
    */
  private def pkOverlapping(newFiles: Seq[String], pk: String, files: Seq[String]): Seq[String] = {
    val newBounds = newFiles.map(f => statsFor(f).get(pk))
    if (!newBounds.forall(_.exists(s => s.min.isDefined && s.max.isDefined && s.nulls == 0))) files
    else files.filter { f =>
      statsFor(f).get(pk) match {
        case Some(s) if s.min.isDefined && s.max.isDefined =>
          newBounds.flatten.exists(nb =>
            FileStats.compare(s.kind, nb.min.get, s.max.get) <= 0 &&
              FileStats.compare(s.kind, nb.max.get, s.min.get) >= 0)
        case _ => true
      }
    }
  }

  /** Primary-key enforcement over the STAGED (not yet committed) files —
    * the planned check: in-batch duplicates and clashes against the
    * table's live rows (`tableFiles` without the rows `tableDeletes`
    * names) in one aggregate job over staged ∪ bound-overlapping table
    * files. The table side is already unique, so any key with total
    * count > 1 involving a staged row is a violation; staged-count > 1
    * distinguishes the in-batch message (checked first, like the
    * pre-write shape did). An INSERT passes its base manifest; an UPDATE
    * that assigns the pk passes the base files with the updated rows
    * deleted (their pre-images would otherwise false-clash every
    * unchanged key; r19 review). The driver-side INSERT checks in
    * memory instead and comes here only past the driver bound.
    */
  private def pkCheck(newFiles: Seq[String], pk: String,
      tableFiles: Seq[String], tableDeletes: DeleteVectors): Unit = {
    if (newFiles.isEmpty) return
    val oldCandidates = pkOverlapping(newFiles, pk, tableFiles)
    val newDf = scan(newFiles).select(col(pk), lit(1L).as("__new"))
    val unioned =
      if (oldCandidates.isEmpty) newDf
      else newDf.unionAll(scan(oldCandidates, tableDeletes).select(col(pk), lit(0L).as("__new")))
    // NULL keys: SQL joins never match NULLs, and the pre-aggregate
    // clash check (left_semi) inherited that — a staged NULL pk beside
    // an existing NULL row is NOT a clash; only two STAGED nulls are an
    // in-batch duplicate (groupBy groups nulls, so filter explicitly)
    val bad = unioned.groupBy(col(pk))
      .agg(count(lit(1)).as("__c"), sum(col("__new")).as("__n"))
      .filter(col("__c") > 1 && col("__n") >= 1 && (col(pk).isNotNull || col("__n") > 1))
      .limit(1)
      .select(col(pk).cast("string"), (col("__n") > 1).as("__inBatch"))
      .collect().headOption
    bad.foreach { r =>
      if (r.getBoolean(1))
        throw new DuplicateKeyException(s"duplicate key in batch: $pk=${r.getString(0)}")
      else
        throw new DuplicateKeyException(s"duplicate key violates primary key: $pk=${r.getString(0)}")
    }
  }

  /** Manifest-stats candidate pruning: the files of version `base` whose
    * column bounds ADMIT a row matching `cond` (VERDICT r14 #4 — the
    * DuckLake-catalog behavior: a point predicate at 100 TB must not pay
    * a footer-and-scan pass over every live file). Conservative by
    * construction: a file is dropped only when its bounds PROVE no match.
    */
  private[sources] def candidateFiles(base: Long, cond: Column): Seq[String] = {
    val files = manifest(base).files
    if (files.isEmpty) return files
    quickResolve(cond).orElse(resolveCond(cond)) match {
      case Some(c) => files.filter(f => FileStats.mayMatch(statsFor(f), c))
      case None => files
    }
  }

  /** MICRO-RESOLVER for the common DML predicate shapes (conjunctions /
    * disjunctions of comparisons between a column and a literal, IN,
    * BETWEEN, null tests, in SQL or DataFrame-API form): binds attributes straight off the table schema and applies
    * the one coercion the analyzer would (up-cast the LITERAL to the
    * column type), in microseconds instead of the analyzer's ~20-30 ms —
    * which a prepared DML workload pays per execution because the router
    * re-parses the WHERE text each time. Anything else answers None and
    * takes the full empty-frame analysis; the output is checked
    * `.resolved`, so a shape this resolver mishandles falls back rather
    * than mis-evaluates.
    */
  private def quickResolve(cond: Column): Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions._
    def attr(n: String): Option[AttributeReference] =
      schema.fields.find(_.name.equalsIgnoreCase(n))
        .map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    // literal up-cast ONLY between numeric types: canUpCast alone also
    // admits AtomicType -> String, which would turn `stringCol = 42`
    // into STRING equality while Spark's analyzer coerces it to a
    // numeric comparison — silent wrong answers. Anything non-numeric
    // or narrowing falls back to the real analyzer.
    def upcastable(from: org.apache.spark.sql.types.DataType,
        to: org.apache.spark.sql.types.DataType): Boolean =
      from.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
        to.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
        Cast.canUpCast(from, to)
    def coerce(l: Expression, r: Expression): Option[(Expression, Expression)] =
      if (l.dataType == r.dataType) Some((l, r))
      else (l, r) match {
        case (a: AttributeReference, lit: Literal) if upcastable(lit.dataType, a.dataType) =>
          Some((a, Literal(Cast(lit, a.dataType).eval(null), a.dataType)))
        case (lit: Literal, a: AttributeReference) if upcastable(lit.dataType, a.dataType) =>
          Some((Literal(Cast(lit, a.dataType).eval(null), a.dataType), a))
        case _ => None
      }
    def lift(x: Expression): Option[Expression] = x match {
      case u: UnresolvedAttribute if u.nameParts.size == 1 => attr(u.nameParts.head)
      case l: Literal => Some(l)
      case And(a, b) => for { p <- lift(a); q <- lift(b) } yield And(p, q)
      case Or(a, b) => for { p <- lift(a); q <- lift(b) } yield Or(p, q)
      case Not(c) => lift(c).map(Not(_))
      case IsNull(c) => lift(c).map(IsNull(_))
      case IsNotNull(c) => lift(c).map(IsNotNull(_))
      case b: BinaryComparison =>
        for {
          p <- lift(b.left); q <- lift(b.right)
          pq <- coerce(p, q)
        } yield b.withNewChildren(Seq(pq._1, pq._2))
      // IN-lists of literals against one column — the batch point-delete
      // shape: each element coerces to the column type exactly like a
      // binary comparison's literal side
      case In(v, list) =>
        lift(v) match {
          case Some(a: AttributeReference) =>
            val lits = list.map { e =>
              lift(e) match {
                case Some(l: Literal) => coerce(a, l).map(_._2)
                case _ => None
              }
            }
            if (lits.exists(_.isEmpty)) None else Some(In(a, lits.map(_.get)))
          case _ => None
        }
      // a DataFrame-API predicate (`col("id") === 1L`, `isin`, `isNull`,
      // `&&`, `!`) arrives as a function call by name: take it when the
      // builtin registry maps the name to one of the nodes above
      case f: UnresolvedFunction if f.nameParts.size == 1 && !f.isDistinct &&
          f.filter.isEmpty && f.orderingWithinGroup.isEmpty =>
        (f.nameParts.head.toLowerCase, f.arguments) match {
          // SQL's `k BETWEEN lo AND hi` is a `between` call too, but the
          // registry's builder needs resolved arguments: lift it as the
          // two comparisons `Between` stands for, on a column input
          case ("between", Seq(input, lo, hi)) =>
            lift(input).collect { case a: AttributeReference => a }
              .flatMap(_ => lift(And(GreaterThanOrEqual(input, lo), LessThanOrEqual(input, hi))))
          case (name, args) =>
            scala.util.Try(FunctionRegistry.builtin.lookupFunction(FunctionIdentifier(name), args)).toOption
              .filter {
                case _: And | _: Or | _: Not | _: IsNull | _: IsNotNull | _: BinaryComparison | _: In => true
                case _ => false
              }
              .flatMap(lift)
        }
      case _ => None
    }
    try lift(org.apache.spark.sql.graft.bridge.unresolvedExpression(cond)).filter(_.resolved)
    catch { case _: Exception => None }
  }

  /** Resolve a predicate Column to a catalyst tree by ANALYZING a
    * filter over a schema-only empty relation (no job, no file access):
    * Spark 4 columns are lazy ColumnNode wrappers until
    * analysis, and resolution also validates the predicate against the
    * schema. None when analysis fails (exotic predicates — subqueries
    * over session-private views, etc): pruning is an OPTIMIZATION, so
    * failure here must fall back to scanning every file, never fail the
    * statement early.
    */
  private def resolveCond(cond: Column):
      Option[org.apache.spark.sql.catalyst.expressions.Expression] =
    try {
      spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
        .filter(cond).queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
        }
    } catch { case _: Exception => None }

  /** Analysis-free candidate pruning: files of `version` whose bounds
    * admit `cond`, an already-built catalyst tree (the prepared key read
    * constructs its equality/IN/range predicate directly). Pure
    * driver-side stats math — no Spark plan is built, so it is cheap
    * enough to run per prepared execution.
    */
  def candidateFilesExpr(version: Long,
      cond: org.apache.spark.sql.catalyst.expressions.Expression): Seq[String] =
    manifest(version).files.filter(f => FileStats.mayMatch(statsFor(f), cond))

  /** The live rows of version `base` matching `cond`: per data file, the
    * positions not yet deleted — one planned discovery job over the
    * stats-pruned candidates answers which rows a DELETE or UPDATE
    * takes, and how many. The path for every statement the driver-side
    * DML declines.
    */
  private def affectedPositions(base: Long, cond: Column): Map[String, RoaringBitmap] = {
    val candidates = candidateFiles(base, cond)
    if (candidates.isEmpty) return Map.empty
    val deletes = manifest(base).deletes
    scan(candidates)
      .select(col("_metadata.file_name").as("__file"), col("_metadata.row_index").as("__pos"), col("*"))
      .filter(cond).select("__file", "__pos").collect()
      .groupBy(_.getString(0))
      .map { case (f, rs) =>
        val hit = RoaringBitmap.bitmapOfUnordered(rs.map(_.getLong(1).toInt): _*)
        f -> deletes.get(f).fold(hit)(RoaringBitmap.andNot(hit, _))
      }
      .filter(!_._2.isEmpty)
  }

  /** Summed on-disk bytes of live data files (one fstat each) — the
    * planned UPDATE's file-sizing input.
    */
  private def bytesOf(files: Seq[String]): Long =
    files.map { f =>
      try java.nio.file.Files.size(dataDir.resolve(f)) catch { case _: Exception => 0L }
    }.sum

  /** Merge-on-read DELETE: the matching rows' positions join their
    * files' delete vectors, and no data file is written; returns the
    * number of rows deleted.
    */
  def delete(cond: Column): Long = autocommit(deleteCore(_, cond))._2

  /** The DELETE on top of `base`, staged like [[insertCore]]; a DELETE
    * that matches nothing stages nothing and returns `base`. SQL
    * three-valued logic holds throughout: a row is taken only where the
    * predicate is TRUE, so a NULL-predicate row survives. Callers hold
    * writeLock.
    */
  private[sources] def deleteCore(base: Long, cond: Column): (Long, Long) = {
    driverDml(base, cond, None).foreach(return _)
    val hits = affectedPositions(base, cond)
    if (hits.isEmpty) return (base, 0L)
    (commitDml(manifest(base), hits, Seq.empty, compact = false),
      hits.valuesIterator.map(_.getLongCardinality).sum)
  }

  /** Remove staged-but-never-committed files and their stats entries —
    * failure cleanup shared by the staged-write paths. Never throws (a
    * cleanup failure must not mask the original error).
    */
  private def dropStaged(files: Seq[String]): Unit =
    files.foreach { f =>
      fileStats.remove(f)
      fileStatuses.remove(f)
      RowCache.shared.remove(cacheKey, f)
      try Files.deleteIfExists(dataDir.resolve(f))
      catch { case _: Throwable => }
    }

  /** Merge-on-read UPDATE: SET col -> expression for rows matching
    * `cond`, as a delete of those rows plus an append of their updated
    * copies; returns the number of rows updated.
    */
  def update(cond: Column, set: Map[String, Column]): Long = autocommit(updateCore(_, cond, set))._2

  /** The UPDATE on top of `base`, staged like [[deleteCore]]. Callers
    * hold writeLock.
    */
  private[sources] def updateCore(base: Long, cond: Column, set: Map[String, Column]): (Long, Long) = {
    require(set.nonEmpty, "UPDATE requires at least one assignment")
    set.keys.foreach(k => require(schema.fieldNames.contains(k), s"unknown column: $k"))
    // a PK-ASSIGNING update must re-validate uniqueness (r19 review:
    // both update paths persisted duplicate PKs — UPDATE t SET k = 5
    // WHERE k = 6 silently committed two k=5 rows); the driver path
    // has no check, so those updates take the planned path below
    val touchesPk = primaryKey.exists(set.contains)
    if (!touchesPk) driverDml(base, cond, Some(set)).foreach(return _)
    val hits = affectedPositions(base, cond)
    if (hits.isEmpty) return (base, 0L)
    val m = manifest(base)
    val updated = hits.valuesIterator.map(_.getLongCardinality).sum
    val affected = hits.keys.toSeq
    // exactly the discovered rows, each with its assignments applied
    val rows = scan(affected).filter(ManifestFileIndex.deleted(DeleteVectors(hits)))
      .select(schema.fieldNames.toSeq.map { name =>
        set.get(name) match {
          case Some(e) => e.cast(schema(name).dataType).as(name)
          case None    => col(name)
        }
      }: _*)
    // sized by the updated share of the affected files' bytes
    val affectedRows = affected.map(rowCountOf)
    val bytes = if (affectedRows.exists(_ <= 0)) bytesOf(affected)
      else bytesOf(affected) * updated / affectedRows.sum
    val appended = stageWrite(rows, knownBytes = Some(bytes))
    try {
      // pk-assigning update: the appended rows must be unique in-batch
      // AND against the table's other live rows — the base files with
      // the updated rows deleted
      if (touchesPk) primaryKey.foreach(pk => pkCheck(appended, pk, m.files, m.deletes.plus(hits)))
      (commitDml(m, hits, appended, compact = false), updated)
    } catch { case e: Throwable => dropStaged(appended); throw e }
  }

  /** CHECKPOINT ≈ compaction (A26): coalesce the live rows into
    * `targetFiles` files, folding the delete vectors away; data
    * unchanged, old versions still readable.
    */
  def checkpoint(targetFiles: Int = 1): Long = autocommit { base =>
    val m = manifest(base)
    if (m.files.size <= targetFiles && m.deletes.isEmpty) (base, 0L)
    else {
      val compacted = stageWrite(asOf(base), exactFiles = Some(targetFiles))
      val nv =
        try stageManifest(compacted, DeleteVectors.empty)
        catch { case e: Throwable => dropStaged(compacted); throw e }
      graft.ServeCounters.lakeRowsRewritten.addAndGet(compacted.map(rowCountOf).filter(_ > 0).sum)
      (nv, 0L)
    }
  }._1

  def fileCount: Int = manifest(currentVersion).files.size

  private[sources] def hasManifest(v: Long): Boolean = Files.exists(manifestPath(v))

  /** Run `f` holding this table's writer monitor — the catalog's
    * multi-table commit acquires every staged table's lock (in sorted
    * name order) so its validate-then-swap cannot race an autocommit
    * writer, whose own read-stage-publish holds the same monitor.
    * Reentrant: publish() inside f re-enters fine.
    */
  private[sources] def withWriteLock[T](f: => T): T = locked(f)

  /** Delete a STAGED (never-published) manifest `v` of base `base`,
    * and the data files it names that its base manifest does not — the
    * ones it staged itself, since a staged file is named only by its
    * own chain of staged manifests — unless the published manifest
    * names them (an intermediate manifest that COMMIT retires shares
    * files with the published one). The one cleanup of a failed
    * publish, a ROLLBACK, a conflicted COMMIT and a retired
    * intermediate; a chain is discarded newest first, so each base is
    * still there. Refuses to touch the published version; an
    * already-absent manifest is the tolerated no-op. Never throws:
    * cleanup must not mask the error that caused it (e.g. a
    * drop+recreate raced the rollback into a version collision), and
    * files it cannot decide on stay for vacuum.
    */
  private[sources] def discardStaged(v: Long, base: Long): Unit = locked {
    try {
      val published = currentVersion
      if (v != published && hasManifest(v)) {
        val only = scala.util.Try {
          val named = manifest(base).files.toSet ++ manifest(published).files
          manifest(v).files.filterNot(named)
        }.getOrElse(Seq.empty)
        manifests.remove(v)
        Files.deleteIfExists(manifestPath(v))
        dropStaged(only)
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Drop data files no longer referenced by ANY retained manifest
    * (vacuum; the reference's checkpoint cleanup).
    */
  def vacuum(): Int = locked {
    val live = mutable.Set.empty[String]
    listDir(root)
      .filter(_.getFileName.toString.startsWith("manifest-"))
      .foreach { m =>
        val v = m.getFileName.toString.stripPrefix("manifest-").stripSuffix(".json").toLong
        live ++= manifest(v).files
      }
    var removed = 0
    listDir(dataDir).foreach { p =>
      val name = p.getFileName.toString
      if (!live.contains(name)) {
        Files.delete(p)
        fileStats.remove(name)
        fileStatuses.remove(name)
        RowCache.shared.remove(cacheKey, name)
        removed += 1
      }
    }
    removed
  }
}

object MutableTable {

  /** A manifest's data files (names) and their delete vectors. */
  private final case class Manifest(files: Seq[String], deletes: DeleteVectors)

  /** A manifest after micro-compaction; `merged` names the freshly
    * written merge file, if any (its `mergedRows` rows), whose cleanup
    * the caller owns when the commit that would reference it fails
    * (ADVICE r16: the insert catch otherwise leaked the file and its
    * fileStats entry).
    */
  private final case class Compacted(files: Seq[String], deletes: DeleteVectors,
      merged: Option[String], mergedRows: Long)

  /** A primary-key value as the planned check groups it: -0.0 folds
    * into 0.0 (boxed equality already treats NaN as one value).
    */
  private[sources] def canonicalKey(v: Any): Any = v match {
    case d: Double => d + 0.0d
    case f: Float => f + 0.0f
    case other => other
  }

  /** Files.list with the stream CLOSED: the returned java Stream holds
    * an open DirectoryStream until close(), so iterating it bare leaks
    * one fd per call until finalization.
    */
  private[sources] def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.list(p)
    try st.iterator().asScala.toSeq finally st.close()
  }

  /** Create an empty table at `path` (errors if one exists). */
  def create(spark: SparkSession, path: String, schema: StructType,
      primaryKey: Option[String] = None): MutableTable = {
    val root = Paths.get(path)
    require(!Files.exists(root.resolve("_version")), s"table already exists at $path")
    Files.createDirectories(root.resolve("data"))
    Files.write(root.resolve("schema.json"), schema.json.getBytes)
    primaryKey.foreach(pk => Files.write(root.resolve("pk"), pk.getBytes))
    val t = new MutableTable(spark, root, schema, primaryKey)
    t.writeManifest(0, Seq.empty, DeleteVectors.empty)
    Files.write(root.resolve("_version"), "0".getBytes)
    t
  }

  /** Open an existing table. */
  def load(spark: SparkSession, path: String): MutableTable = {
    val root = Paths.get(path)
    val schema = DataType.fromJson(new String(Files.readAllBytes(root.resolve("schema.json"))))
      .asInstanceOf[StructType]
    val pk = if (Files.exists(root.resolve("pk")))
      Some(new String(Files.readAllBytes(root.resolve("pk")))) else None
    new MutableTable(spark, root, schema, pk)
  }
}
