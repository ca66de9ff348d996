package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-pinned snapshot tables — the table-format core (Iceberg/Delta
  * style) built from primitives, since the format jars are absent in this
  * environment: readers never list directories; they read an immutable
  * MANIFEST (the exact data-file set of one committed version), so
  *
  *  - a reader holding version N is isolated from every later commit,
  *    compaction, or overwrite (no torn reads mid-rewrite, the failure
  *    mode of a directory swap);
  *  - time travel is "read an older manifest";
  *  - concurrent writers serialize on an exclusive-create COMMIT LOCK
  *    (`java.nio` O_CREAT|O_EXCL on local filesystems — Hadoop's local
  *    `rename`/`create(overwrite=false)` are check-then-act and CAN both
  *    succeed under a race, a TOCTOU this module's own concurrency spec
  *    caught; namenode-atomic `create(overwrite=false)` on HDFS; a
  *    conditional PUT on S3). The version number is assigned under the
  *    lock, the manifest becomes visible via rename, and a crashed
  *    holder's lock is stolen after a staleness horizon — nobody ever
  *    observes a half-committed file set or a clobbered version;
  *  - vacuum deletes data files no surviving manifest references —
  *    storage GC decoupled from readers by the retention horizon.
  *
  * Layout under `tablePath/`:
  * {{{
  *   data/<commit-uuid>/part-*.parquet   -- immutable once written
  *   _manifests/v<N>.manifest            -- one relative path per line
  * }}}
  *
  * All paths go through the Hadoop FileSystem API (HDFS/S3A-ready; on S3
  * the atomic-rename CAS would move to a conditional PUT, the same
  * mechanism table formats use there). This is also what replaces
  * `StageCache`'s dir+mtime freshness key at cluster scale: a stage built
  * FROM snapshot version N is valid exactly while N is the table head —
  * pin the manifest, not the mtime.
  *
  * Ref semantics: Procesamiento_fase_1.ipynb:137,305 (MERGE/OVERWRITE on
  * a managed table — the snapshot/commit half; the MERGE row math lives
  * in [[MergeUpsert]]).
  */
object SnapshotTable {

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(tablePath: String) =
    new Path(tablePath, "_manifests")

  /** Version `v`'s metadata file of one `kind`: `manifest`, `schema.json`,
    * `deletes` or `time`. */
  private def versionFile(tablePath: String, v: Int, kind: String) =
    new Path(manifestDir(tablePath), s"v$v.$kind")

  /** `version`, or the head when `None`; fails loudly on an empty table. */
  private def resolve(spark: SparkSession, tablePath: String,
                      version: Option[Int]): Int = version.getOrElse {
    val vs = versions(spark, tablePath)
    require(vs.nonEmpty, s"no committed snapshots at $tablePath")
    vs.last
  }

  /** The TABLE schema recorded at commit time for `version` (head when
    * `None`) — the Delta/Iceberg design: schema lives in table metadata,
    * not in data-file footers, so a 100 TB read never footer-merges a
    * million files to discover one added column. `None` for tables
    * committed before schema tracking (readers then fall back to footer
    * inference, the legacy behavior). */
  def tableSchema(spark: SparkSession, tablePath: String,
                  version: Option[Int] = None)
      : Option[org.apache.spark.sql.types.StructType] = {
    val p = versionFile(tablePath, resolve(spark, tablePath, version),
      "schema.json")
    val f = fs(spark, p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    }
  }

  private def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(s.fields.map(_.copy(nullable = true)))

  /** Append-commit schema evolution (Iceberg `union_by_name` semantics):
    * columns present in both keep their exact type (a type CHANGE is
    * refused loudly — silent widening corrupts downstream readers), new
    * columns append after the existing ones, dropped-in-source columns
    * survive (old files still carry them; new files read them as null). */
  private def evolve(old: org.apache.spark.sql.types.StructType,
                     nw: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    old.fields.foreach { f =>
      nw.fields.find(_.name == f.name).foreach { g =>
        require(g.dataType == f.dataType,
          s"schema evolution cannot change the type of column '${f.name}' " +
            s"(${f.dataType.simpleString} -> ${g.dataType.simpleString}); " +
            "write the cast explicitly into a new column instead")
      }
    }
    val oldNames = old.fieldNames.toSet
    org.apache.spark.sql.types.StructType(
      old.fields ++ nw.fields.filterNot(g => oldNames.contains(g.name)))
  }

  /** Committed versions, ascending (empty for a fresh table). */
  def versions(spark: SparkSession, tablePath: String): Seq[Int] = {
    val dir = manifestDir(tablePath)
    val f = fs(spark, dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toInt }
      .sorted
  }

  /** One manifest entry: a data file plus optional per-column min/max
    * stats (the Iceberg file-stats idea — the metadata that lets a reader
    * skip files BEFORE any scan task is scheduled). Values are exact
    * decimal strings in the manifest; absence of stats for a column means
    * the file can never be pruned on it (conservative by construction). */
  final case class FileEntry(path: String,
                             stats: Map[String, (BigDecimal, BigDecimal)])

  /** Manifest line format: `relpath` or
    * `relpath\tcol=min..max\tcol2=min..max`. */
  private def renderEntry(e: FileEntry): String =
    (e.path +: e.stats.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
      s"$c=$mn..$mx"
    }).mkString("\t")

  private def parseEntry(line: String): FileEntry = {
    val parts = line.split("\t")
    FileEntry(parts.head, parts.tail.map { s =>
      val Array(c, range) = s.split("=", 2)
      val Array(mn, mx) = range.split("\\.\\.", 2)
      c -> (BigDecimal(mn), BigDecimal(mx))
    }.toMap)
  }

  /** One version's manifest: the per-application transaction watermarks
    * (Delta `txnAppId`/`txnVersion` semantics) and the data-file entry
    * lines. On disk the watermarks are `#txn\tapp\tid` header lines, sorted
    * by app and written before the entries (data paths never start with
    * `#`); they ride IN the manifest, so every later version, maintenance
    * commits included, carries them forward. */
  private final case class Manifest(txns: Map[String, Long],
                                    files: Seq[String]) {
    def paths: Seq[String] = files.map(l => parseEntry(l).path)
    def render: String =
      (txns.toSeq.sortBy(_._1).map { case (a, i) => s"#txn\t$a\t$i" } ++
        files).mkString("\n")
  }

  private def manifest(spark: SparkSession, tablePath: String,
                       v: Int): Manifest = {
    val p = versionFile(tablePath, v, "manifest")
    val f = fs(spark, p)
    require(f.exists(p), s"snapshot v$v does not exist (vacuumed or never " +
      s"committed) at $tablePath")
    val in = f.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      finally in.close()
    Manifest(lines.collect { case l if l.startsWith("#txn\t") =>
        val Array(_, app, id) = l.split("\t", 3)
        app -> id.toLong
      }.toMap,
      lines.filterNot(_.startsWith("#")))
  }

  /** The latest transaction id committed by writer `app`, if any — the
    * streaming sink's restart question ("has this batch landed?"). */
  def txnVersion(spark: SparkSession, tablePath: String,
                 app: String): Option[Long] =
    versions(spark, tablePath).lastOption
      .flatMap(v => manifest(spark, tablePath, v).txns.get(app))

  /** The version's file entries with their stats (`version = None` →
    * head). */
  def entries(spark: SparkSession, tablePath: String,
              version: Option[Int] = None): Seq[FileEntry] =
    manifest(spark, tablePath, resolve(spark, tablePath, version)).files
      .map(parseEntry)

  /** How long a commit lock may sit before another writer may presume
    * its holder dead and steal it. Lock holders only do manifest-sized
    * I/O (the data files are written before acquiring), so a healthy
    * holder releases in milliseconds. */
  private val LockStaleMs = 60000L

  /** Atomically claim `lock`. Local filesystems go through
    * `java.nio.Files.createFile` (O_CREAT|O_EXCL — actually atomic;
    * Hadoop's local create/rename are check-then-act and lose updates
    * under contention); everything else uses `create(overwrite=false)`,
    * which HDFS enforces atomically at the namenode. */
  private def tryLock(f: org.apache.hadoop.fs.FileSystem,
                      lock: Path): Boolean =
    if (f.getScheme == "file") {
      try {
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(lock.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.nio.file.NoSuchFileException => false
      }
    } else {
      try { f.create(lock, false).close(); true }
      catch { case _: java.io.IOException => false }
    }

  /** Run `body` under the table's commit lock (atomic-create file lock
    * with stale-holder recovery) — the serialization point every commit
    * flavor shares. `body` receives the filesystem and must itself read
    * the CURRENT head (versions may have advanced while waiting). A writer
    * waits up to twice the staleness horizon: long enough to see a
    * crashed holder's lock go stale and steal it, after which a lock that
    * is still held means a live writer storm, reported loudly. */
  private def withCommitLock[T](spark: SparkSession, tablePath: String)(
      body: org.apache.hadoop.fs.FileSystem => T): T = {
    val f = fs(spark, manifestDir(tablePath))
    f.mkdirs(manifestDir(tablePath))
    val lock = new Path(manifestDir(tablePath), "_commit.lock")
    val start = System.currentTimeMillis()
    while (System.currentTimeMillis() - start < 2 * LockStaleMs) {
      if (tryLock(f, lock)) {
        try return body(f) finally f.delete(lock, false)
      } else {
        // crashed-holder recovery: a lock past the staleness horizon is
        // deleted; the delete+create pair then races through the atomic
        // create above, so at most one stealer wins
        try {
          val age = System.currentTimeMillis() -
            f.getFileStatus(lock).getModificationTime
          if (age > LockStaleMs) f.delete(lock, false)
        } catch { case _: java.io.FileNotFoundException => () }
        Thread.sleep(10)
      }
    }
    throw new IllegalStateException(
      s"commit contention at $tablePath: lock not acquired after waiting " +
        s"${System.currentTimeMillis() - start} ms")
  }

  /** The data files one commit wrote: its id, their directory and their
    * manifest entry lines. */
  private final case class Staged(commitId: String, dir: Path,
                                  files: Seq[String])

  /** The stage step of every data-writing commit: write `df` ONCE, outside
    * the lock, under `data/<commitId>/`, then render each file's manifest
    * entry with its footer's min/max of every `statsCols` column
    * ([[ListedParquet.footerRanges]]: integers as-is, dates as epoch
    * days). A column the footer can't decide (other types, all nulls,
    * missing statistics) records no stats, and such files are never
    * pruned. */
  private def stage(spark: SparkSession, df: DataFrame, tablePath: String,
                    statsCols: Seq[String]): Staged = {
    require(statsCols.forall(c => !c.contains("\t") && !c.contains("=")),
      "stats column names must not contain tab or '='")
    val commitId = java.util.UUID.randomUUID().toString
    val dir = new Path(new Path(tablePath, "data"), commitId)
    df.write.parquet(dir.toString)
    val conf = spark.sparkContext.hadoopConfiguration
    Staged(commitId, dir, fs(spark, dir).listStatus(dir).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val stats =
          if (statsCols.isEmpty) Map.empty[String, (BigDecimal, BigDecimal)]
          else ListedParquet.footerRanges(conf, st).collect {
            case (c, Some((mn, mx))) if statsCols.contains(c) =>
              c -> (BigDecimal(mn), BigDecimal(mx))
          }
        renderEntry(FileEntry(s"data/$commitId/${st.getPath.getName}",
          stats))
      })
  }

  /** What a publish writes as the next version: its manifest, its schema
    * sidecar and at most one more sidecar, `(kind, text)` (`time` or
    * `deletes`). */
  private final case class NextVersion(
      manifest: Manifest,
      schema: Option[org.apache.spark.sql.types.StructType],
      sidecar: Option[(String, String)] = None)

  /** The one publish step every version goes through (commit,
    * commitAudited, deleteWhere, restoreSnapshot, cloneSnapshot). Under
    * the commit lock it reads the head (its version and its manifest,
    * once) and asks `next` for the new version; `None` publishes nothing
    * and returns the head (a replayed transaction). Version v = head + 1
    * is then written in this order:
    *  1. the schema sidecar — a manifest must never be visible without
    *     its schema (readers discover versions by manifest);
    *  2. the time or delete-vector sidecar, if any — a reader that can
    *     see v must also see v's place on the time axis and v's deletes;
    *  3. the manifest (`#txn` lines, then data lines) to
    *     `.tmp-<commitId>-<v>`;
    *  4. its rename to `v<v>.manifest`: under the lock the destination
    *     cannot exist, and the rename gives readers atomic visibility.
    *     Data and watermarks land in that one rename, so there is no crash
    *     window where one is visible without the other. */
  private def publish(spark: SparkSession, tablePath: String,
                      commitId: String)(
      next: (Option[Int], Manifest) => Option[NextVersion]): Int =
    withCommitLock(spark, tablePath) { f =>
      val head = versions(spark, tablePath).lastOption
      next(head, head.fold(Manifest(Map.empty, Nil))(
          manifest(spark, tablePath, _))) match {
        case None => head.get
        case Some(nv) =>
          val v = head.getOrElse(0) + 1
          def put(p: Path, text: String, overwrite: Boolean): Unit = {
            val out = f.create(p, overwrite)
            try out.write(text.getBytes("UTF-8")) finally out.close()
          }
          nv.schema.foreach(sch =>
            put(versionFile(tablePath, v, "schema.json"), sch.json, true))
          nv.sidecar.foreach { case (kind, text) =>
            put(versionFile(tablePath, v, kind), text, true) }
          val tmp = new Path(manifestDir(tablePath), s".tmp-$commitId-$v")
          put(tmp, nv.manifest.render, false)
          require(f.rename(tmp, versionFile(tablePath, v, "manifest")),
            s"manifest publish failed for v$v at $tablePath")
          v
      }
    }

  /** Commit `df` as the next version and return that version. Data files
    * are written ONCE, outside the lock; only the version assignment and
    * manifest publish — pure metadata — are serialized.
    *
    *  - `replace = true` makes the new manifest exactly this commit's
    *    files (overwrite semantics); `replace = false` appends them to the
    *    current head's file set (existing entries keep their stats
    *    verbatim).
    *  - `statsCols` names columns whose per-file min/max land in the
    *    manifest for [[readPruned]] file skipping.
    *  - `txn = Some((app, id))` makes the commit IDEMPOTENT per writer
    *    (Delta's `txnAppId`/`txnVersion`): if the head manifest already
    *    records a transaction ≥ `id` for `app`, the commit is a no-op
    *    that returns the head version and reclaims its staged files — the
    *    exactly-once contract a restarted streaming foreachBatch needs
    *    (the replayed batch must not append twice).
    *  - `expectedHead = Some(v)` makes the commit CONDITIONAL (the
    *    compare-and-swap every table format's REPLACE/OVERWRITE needs):
    *    under the commit lock, if the head version is not exactly `v`
    *    (0 = empty table), the staged files are reclaimed and
    *    [[java.util.ConcurrentModificationException]] is thrown instead
    *    of publishing — a maintenance rewrite derived from a snapshot read
    *    can then never erase a commit that landed after that read; the
    *    caller re-reads and retries. */
  def commit(spark: SparkSession, df: DataFrame, tablePath: String,
             replace: Boolean = true,
             statsCols: Seq[String] = Seq.empty,
             commitTime: Option[Long] = None,
             txn: Option[(String, Long)] = None,
             expectedHead: Option[Int] = None): Int = {
    require(txn.forall { case (app, _) =>
      !app.contains("\t") && !app.contains("\n") },
      "txn app id must not contain tab or newline")
    // pre-flight the evolution check BEFORE writing data files so an
    // incompatible append fails without leaving an orphan data dir (the
    // authoritative check re-runs under the commit lock)
    if (!replace) versions(spark, tablePath).lastOption.foreach { h =>
      tableSchema(spark, tablePath, Some(h))
        .foreach(old => evolve(old, asNullable(df.schema)))
    }
    publishStaged(spark, df.schema, tablePath,
      stage(spark, df, tablePath, statsCols), replace, commitTime, txn,
      expectedHead)
  }

  /** The publish half of [[commit]] for files already staged from a frame
    * of schema `dfSchema`. */
  private def publishStaged(spark: SparkSession,
                            dfSchema: org.apache.spark.sql.types.StructType,
                            tablePath: String, staged: Staged,
                            replace: Boolean,
                            commitTime: Option[Long] = None,
                            txn: Option[(String, Long)] = None,
                            expectedHead: Option[Int] = None): Int = {
    def reclaim(): Unit = fs(spark, staged.dir).delete(staged.dir, true)
    publish(spark, tablePath, staged.commitId) { (head, m) =>
      expectedHead.foreach { e =>
        if (head.getOrElse(0) != e) {
          reclaim() // reclaim staged files before failing
          throw new java.util.ConcurrentModificationException(
            s"conditional commit at $tablePath expected head v$e but " +
              s"found v${head.getOrElse(0)} — a commit landed after the " +
              "caller's snapshot read; re-read and retry")
        }
      }
      if (txn.exists { case (app, id) => m.txns.get(app).exists(_ >= id) }) {
        // already applied (a restarted writer re-offering an old batch):
        // reclaim the staged files, leave the table untouched
        reclaim()
        None
      } else {
        val base = if (replace) Nil else m.files
        // version schema: replace takes the frame's schema; append
        // evolves the prior version's recorded schema (falling back to
        // one footer-inferred read for pre-tracking tables)
        val schema =
          if (base.isEmpty) asNullable(dfSchema)
          else {
            val old = tableSchema(spark, tablePath, head)
              .getOrElse(asNullable(spark.read.parquet(
                m.paths.map(new Path(tablePath, _).toString): _*).schema))
            evolve(old, asNullable(dfSchema))
          }
        Some(NextVersion(Manifest(m.txns ++ txn, base ++ staged.files),
          Some(schema), commitTime.map(t => "time" -> t.toString)))
      }
    }
  }

  /** The logical commit time recorded for `version`, if any. */
  def commitTimeOf(spark: SparkSession, tablePath: String,
                   version: Int): Option[Long] = {
    val p = versionFile(tablePath, version, "time")
    val f = fs(spark, p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(
        in.readAllBytes(), "UTF-8").trim.toLong)
      finally in.close()
    }
  }

  /** TIMESTAMP AS OF time travel (Delta `TIMESTAMP AS OF` / Iceberg
    * snapshot-at-timestamp): the latest version whose recorded commit
    * time is ≤ `ts`. Commit times are LOGICAL longs supplied at commit —
    * not wall clock — so replays and tests are deterministic; a real
    * deployment passes its event-time watermark or ingest batch time.
    * Versions committed without a time have no place on the time axis
    * and are skipped (they remain readable by version/ref). Fails
    * loudly when nothing precedes `ts`, and — via [[read]] — when the
    * resolved version has been vacuumed. */
  def readAsOfTime(spark: SparkSession, tablePath: String,
                   ts: Long): DataFrame = {
    val timed = versions(spark, tablePath)
      .flatMap(v => commitTimeOf(spark, tablePath, v).map(v -> _))
    require(timed.nonEmpty,
      s"no time-annotated snapshots at $tablePath")
    val at = timed.filter(_._2 <= ts)
    require(at.nonEmpty,
      s"no snapshot at or before t=$ts at $tablePath " +
        s"(earliest is t=${timed.map(_._2).min})")
    // ties on the logical time resolve to the later version (the
    // deterministic "latest wins" a reader expects)
    read(spark, tablePath, Some(at.maxBy { case (v, t) => (t, v) }._1))
  }

  /** Read a pinned snapshot (`version = None` → current head) at FILE
    * level — delete vectors are NOT applied (use [[readMor]] on tables
    * that take merge-on-read deletes; on DV-free tables the two are
    * identical). The
    * returned frame holds the version's exact file list — later commits,
    * compactions, or vacuums of OTHER versions cannot change or tear it. */
  def read(spark: SparkSession, tablePath: String,
           version: Option[Int] = None): DataFrame = {
    val v = resolve(spark, tablePath, version)
    readFiles(spark, tablePath, v, manifest(spark, tablePath, v).paths)
  }

  /** The manifest-relative data files `rels` of version `v`, read under
    * the version's RECORDED schema (schema evolution: files predating an
    * added column read it as null; no footer merging) through
    * [[ListedParquet]]: the manifest already is the listing, so the read
    * launches no listing job however many files the version holds. */
  private def readFiles(spark: SparkSession, tablePath: String, v: Int,
                        rels: Seq[String]): DataFrame = {
    val root = new Path(tablePath)
    val f = fs(spark, root)
    // a clone's manifest names its source's files by absolute path, so
    // the table root is no base path for them (and holds no partitions)
    ListedParquet.read(spark,
      rels.map(rel => f.getFileStatus(new Path(root, rel))),
      tableSchema(spark, tablePath, Some(v)), basePath = None)
  }

  /** Manifest-stats file pruning: read only the files whose recorded
    * [lower, upper] range on `colName` can intersect the requested one —
    * the scan-skipping a 100 TB table lives by (a day-range query over a
    * year of files schedules tasks for the asked-for days only, decided
    * from manifest metadata before any I/O). Files without stats for
    * `colName` are always kept (conservative), so the pruned read +
    * the caller's row-level filter is ALWAYS equivalent to the full
    * read + filter. `None` bounds are open. Date columns compare as
    * epoch days (the [[stage]] encoding). */
  def readPruned(spark: SparkSession, tablePath: String, colName: String,
                 lower: Option[BigDecimal], upper: Option[BigDecimal],
                 version: Option[Int] = None): DataFrame = {
    val v = resolve(spark, tablePath, version)
    val kept = entries(spark, tablePath, Some(v)).filter { e =>
      e.stats.get(colName) match {
        case None => true
        case Some((mn, mx)) =>
          lower.forall(lo => mx >= lo) && upper.forall(hi => mn <= hi)
      }
    }
    if (kept.isEmpty) {
      // every file pruned: preserve the schema via an empty frame over
      // the full file set
      read(spark, tablePath, Some(v)).limit(0)
    } else readFiles(spark, tablePath, v, kept.map(_.path))
  }

  /** Bounded retry around a conditional (expectedHead) commit: every
    * read-modify-write maintenance writer publishes through this so a
    * commit landing between its snapshot read and its publish is NEVER
    * silently erased — the CAS fails, the body re-reads the new head and
    * re-derives. A short randomized pause between attempts keeps a steady
    * writer stream from burning all attempts back-to-back (the work per
    * attempt is a re-derivation, but the contention window is
    * metadata-sized). After `maxAttempts` CAS failures the contention
    * (a writer storm) is surfaced, not absorbed. Package-visible: every
    * snapshot-derived writer — including [[ModelRegistry]]'s GC — shares
    * this one retry policy instead of growing drift-prone copies. */
  private[operators] def retryCas[A](maxAttempts: Int = 5)(body: => A): A = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt >= maxAttempts) throw e
          Thread.sleep(50L + scala.util.Random.nextInt(150))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Compact the head as a COMMIT: rewrite its rows into
    * ceil(bytes / `targetBytes`) files (sized by bytes, never a guessed
    * constant; the round-robin repartition evens the file sizes) and
    * publish them as the next version. Because readers pin manifests,
    * there is NO swap window at all — the structural fix for the
    * rename-pair hazard of a directory-swap compaction: old readers keep
    * the old manifest's files (still on disk until vacuum), new readers
    * get the compacted set, and a crash mid-rewrite leaves an orphan data
    * dir that no manifest references (vacuum-able garbage, never a broken
    * table). Returns the committed version. */
  def compactSnapshot(spark: SparkSession, tablePath: String,
                      targetBytes: Long = 128L * 1024 * 1024,
                      onBeforePublish: () => Unit = () => ()): Int = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    // CAS, like every writer whose output is DERIVED from a snapshot
    // read: a replace commit published unconditionally would erase any
    // commit that landed between this compaction's read and its publish.
    // On CAS failure the rewrite re-reads and re-runs (compaction is
    // idempotent maintenance — repeating it is safe and cheap relative
    // to losing a data commit).
    retryCas() {
      val head = resolve(spark, tablePath, None)
      val f = fs(spark, new Path(tablePath))
      val totalBytes = manifest(spark, tablePath, head).paths
        .map(rel => f.getFileStatus(new Path(tablePath, rel)).getLen).sum
      val nFiles = math.max(1, math.ceil(
        totalBytes.toDouble / targetBytes).toInt)
      // readMor, not read: compaction must FOLD delete vectors into the
      // rewritten data (a DV-blind rewrite would resurrect deleted rows —
      // the new files are outside every old DV's scope). On a DV-free
      // table readMor ≡ read.
      val rewritten = readMor(spark, tablePath, Some(head))
        .repartition(nFiles)
      onBeforePublish()
      commit(spark, rewritten, tablePath, replace = true,
        expectedHead = Some(head))
    }
  }

  /** Source-wins MERGE as a commit (Delta `WHEN MATCHED UPDATE / WHEN NOT
    * MATCHED INSERT`, the SCD-1 upsert of
    * [[MergeUpsert.upsertPartitioned]], snapshot flavor): target rows
    * losing a key conflict are replaced by source rows, new keys insert,
    * and the result is the next version — readers see the old or the new
    * table, never a mix. Duplicate source keys collapse to the first row
    * by `orderCol` (deterministic, like the partitioned path).
    *
    * `scope` adds the third clause, `WHEN NOT MATCHED BY SOURCE DELETE`:
    * the source declares itself the complete truth for the target rows
    * satisfying `scope`, so in-scope rows it no longer carries are
    * DELETED. The default `lit(false)` deletes nothing (Catalyst folds the
    * keep-filter away). The clause is bounded the way every production
    * full-sync bounds it (Delta's `notMatchedBySource.delete(condition)`):
    * an UNSCOPED delete turns every incremental sync into a full-table
    * truncate-load — any row the batch didn't mention would vanish.
    *
    * At scale the rewrite would keep manifest entries for files whose
    * min/max key stats prove them untouched (file-level COW); here every
    * file is rewritten in one scan of the current snapshot — the manifest
    * mechanics are identical. */
  def upsertSnapshot(spark: SparkSession, source: DataFrame,
                     tablePath: String, keyCols: Seq[String],
                     orderCol: String,
                     scope: org.apache.spark.sql.Column =
                       org.apache.spark.sql.functions.lit(false),
                     onBeforePublish: () => Unit = () => ()): Int = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(orderCol))
    val deduped = source.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    // conditional publish (CAS + bounded retry): the merged frame is
    // derived from a snapshot read, so a commit landing between that
    // read and the publish must fail the CAS and force a re-merge —
    // never be silently replaced (the lost-update window the format's
    // expectedHead exists to close). `onBeforePublish` is a test seam:
    // specs inject an interleaved commit there to prove the retry path.
    retryCas() {
      val head = versions(spark, tablePath).lastOption
      val merged = head match {
        case None => deduped
        case Some(v) =>
          // readMor: the merge base must honor delete vectors, or the
          // rewrite would resurrect deleted rows (see compactSnapshot).
          // In-scope survivors come from the source alone; out-of-scope
          // rows survive unless the source updates their key.
          readMor(spark, tablePath, Some(v))
            .filter(!scope)
            .join(deduped.select(keyCols.map(col): _*), keyCols,
              "left_anti")
            .unionByName(deduped)
      }
      onBeforePublish()
      commit(spark, merged, tablePath, replace = true,
        expectedHead = Some(head.getOrElse(0)))
    }
  }

  /** Drop manifests older than `keepFrom` and delete every data file no
    * surviving manifest references. Readers pinned at ≥ keepFrom are
    * unaffected; reads of expired versions fail loudly (the retention
    * contract every table format has). Returns deleted data-file count. */
  def vacuum(spark: SparkSession, tablePath: String, keepFrom: Int): Int = {
    val all = versions(spark, tablePath)
    // TAG retention (Iceberg tag semantics): a version named by any ref
    // is immune to expiry regardless of the retention horizon — tags
    // exist precisely to pin audited/baseline snapshots past it.
    val pinned = refs(spark, tablePath).values.toSet
    val (expired, kept) = all.partition(v =>
      v < keepFrom && !pinned.contains(v))
    require(kept.nonEmpty, s"vacuum would delete every snapshot " +
      s"(keepFrom=$keepFrom, versions=${all.mkString(",")})")
    val keepFiles = kept.flatMap(manifest(spark, tablePath, _).paths).toSet
    val f = fs(spark, new Path(tablePath))
    // ownership guard: a manifest entry may reference a file OUTSIDE
    // this table (a shallow clone borrows the source's files by
    // absolute path) — vacuum only ever reclaims files under its own
    // root; borrowed files belong to their owner's retention
    val root = f.makeQualified(new Path(tablePath)).toString
    def owned(p: Path): Boolean =
      f.makeQualified(p).toString.startsWith(root + "/")
    var deleted = 0
    expired.foreach { v =>
      manifest(spark, tablePath, v).paths.foreach { rel =>
        val p = new Path(tablePath, rel)
        if (!keepFiles.contains(rel) && owned(p) &&
            f.delete(p, false)) deleted += 1
      }
      f.delete(versionFile(tablePath, v, "manifest"), false)
      f.delete(versionFile(tablePath, v, "schema.json"), false)
    }
    deleted
  }

  private def refPath(tablePath: String, name: String) = {
    require(name.matches("[A-Za-z0-9_.-]+"), s"invalid ref name: $name")
    new Path(manifestDir(tablePath), s"ref-$name")
  }

  /** Named refs (Iceberg TAGS): name → pinned version. A tag survives
    * later commits AND [[vacuum]] (tagged versions never expire), so
    * "the audited baseline" or "what the Q3 model trained on" stays
    * addressable forever. Stored one tiny file per ref under the
    * manifest dir; moves serialize on the commit lock. */
  def refs(spark: SparkSession, tablePath: String): Map[String, Int] = {
    val dir = manifestDir(tablePath)
    val f = fs(spark, dir)
    if (!f.exists(dir)) return Map.empty
    f.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("ref-") => n.stripPrefix("ref-") }
      .map { name =>
        val in = f.open(refPath(tablePath, name))
        val v =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        name -> v.toInt
      }.toMap
  }

  /** Create or move a ref to `version` (must be committed). */
  def setRef(spark: SparkSession, tablePath: String, name: String,
             version: Int): Unit =
    withCommitLock(spark, tablePath) { f =>
      require(versions(spark, tablePath).contains(version),
        s"ref '$name' target v$version not committed at $tablePath")
      val out = f.create(refPath(tablePath, name), true)
      try out.write(version.toString.getBytes("UTF-8"))
      finally out.close()
    }

  /** Drop a ref (the version becomes expirable again). */
  def dropRef(spark: SparkSession, tablePath: String, name: String): Unit =
    withCommitLock(spark, tablePath) { f =>
      f.delete(refPath(tablePath, name), false); ()
    }

  /** Merge-on-read view of the version a ref names. */
  def readRef(spark: SparkSession, tablePath: String,
              name: String): DataFrame = {
    val v = refs(spark, tablePath).getOrElse(name,
      throw new IllegalArgumentException(
        s"no ref '$name' at $tablePath"))
    readMor(spark, tablePath, Some(v))
  }

  /** Incremental append scan (the Delta/Iceberg incremental-read that
    * feeds streaming sources and downstream syncs): read ONLY the data
    * files added between `sinceVersion` (exclusive) and `toVersion`
    * (inclusive, head when `None`). Cost is proportional to the NEW data,
    * never the table — the manifest set-difference decides the file list
    * before any I/O, so tailing a 100 TB table costs the appended bytes.
    *
    * Valid only over an append-only chain: if any file of `sinceVersion`
    * is gone from `toVersion` (a replace, upsert rewrite, or compaction
    * intervened), file-level incremental semantics don't exist and the
    * call fails loudly — use [[read]] + a data-level diff (u5) there. */
  def readAppendsSince(spark: SparkSession, tablePath: String,
                       sinceVersion: Int,
                       toVersion: Option[Int] = None): DataFrame = {
    val to = resolve(spark, tablePath, toVersion)
    val oldFiles = manifest(spark, tablePath, sinceVersion).paths.toSet
    val newFiles = manifest(spark, tablePath, to).paths
    val missing = oldFiles -- newFiles.toSet
    require(missing.isEmpty,
      s"not an append-only chain: v$sinceVersion file(s) " +
        s"${missing.take(3).mkString(", ")}… were rewritten before v$to; " +
        "file-level incremental read is undefined — use a snapshot diff")
    val added = newFiles.filterNot(oldFiles.contains)
    if (added.isEmpty) read(spark, tablePath, Some(to)).limit(0)
    else readFiles(spark, tablePath, to, added)
  }

  /** Orphan GC (Iceberg `remove_orphan_files`): delete data files under
    * `data/` that NO manifest references and whose commit dir is older
    * than `olderThanMs` — the debris of crashed writers (data written,
    * manifest never published). The age horizon is the safety contract:
    * an in-flight commit's files are always younger than it, so a
    * concurrent writer can never lose data to the GC. Returns deleted
    * file count. Like [[vacuum]], this is manifest-sized metadata work
    * plus deletes — no data bytes are read. */
  def removeOrphans(spark: SparkSession, tablePath: String,
                    olderThanMs: Long = 24L * 3600 * 1000): Int = {
    val f = fs(spark, new Path(tablePath))
    val dataRoot = new Path(tablePath, "data")
    if (!f.exists(dataRoot)) return 0
    val referenced = versions(spark, tablePath)
      .flatMap(manifest(spark, tablePath, _).paths).toSet
    val horizon = System.currentTimeMillis() - olderThanMs
    var deleted = 0
    // commit-dir granularity: a writer produces exactly one dir per
    // attempt, so a dir with NO referenced file is crash debris as a unit
    // (markers like _SUCCESS included); a dir with any referenced file is
    // live and left whole
    f.listStatus(dataRoot).foreach { dir =>
      if (dir.isDirectory && dir.getModificationTime < horizon) {
        val files = f.listStatus(dir.getPath).map(_.getPath.getName)
        val anyRef = files.exists(n =>
          referenced.contains(s"data/${dir.getPath.getName}/$n"))
        if (!anyRef) {
          deleted += files.count(_.endsWith(".parquet"))
          f.delete(dir.getPath, true)
        }
      }
    }
    deleted
  }

  /** One committed delete vector: the key column, where its key file
    * lives, and the exact data files it applies to (the files present
    * when the delete committed — Iceberg's sequence-number scoping at
    * file granularity, so a later re-insert of a deleted key is NOT
    * hidden by an older delete). */
  final case class DeleteVector(version: Int, keyCol: String,
                                dir: String, appliesTo: Set[String])

  /** All delete vectors of the table, discovered by sidecar listing —
    * deliberately NOT via [[versions]]: a vacuumed manifest's delete
    * vector must keep applying to files that carried forward into
    * retained versions. */
  def deleteVectors(spark: SparkSession,
                    tablePath: String): Seq[DeleteVector] = {
    val dir = manifestDir(tablePath)
    val f = fs(spark, dir)
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".deletes") =>
        n.stripPrefix("v").stripSuffix(".deletes").toInt }
      .sorted
      .map { v =>
        val p = versionFile(tablePath, v, "deletes")
        val in = f.open(p)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().filter(_.nonEmpty).toList
          finally in.close()
        val Array(keyCol, rel) = lines.head.split("\t", 2)
        DeleteVector(v, keyCol, rel, lines.tail.toSet)
      }
  }

  /** Equality-delete commit — MERGE-ON-READ row deletion (Iceberg v2
    * delete files / Delta deletion vectors): instead of rewriting every
    * data file containing a matching row (the copy-on-write `pl11` path —
    * proportional to the DATA touched), commit a small KEY FILE plus a
    * metadata pointer; readers subtract it at scan time. Deleting 0.1%
    * of a 100 TB table costs the matched keys' bytes, not a rewrite.
    *
    * The delete is scoped to the data files present at commit time (the
    * sidecar records them), so appends AFTER the delete — including
    * re-inserts of deleted keys — are untouched. Keys are computed from
    * the current merge-on-read view, so deleting an already-deleted key
    * is a no-op. The new version's manifest carries the SAME data-file
    * lines as its base: time travel to the pre-delete version still sees
    * every row, and [[readAppendsSince]] still sees an append-only chain.
    *
    * Retention: DV sidecars and key files survive [[vacuum]] (a carried-
    * forward file may still need an old DV); a compaction rewrite
    * (read-back via [[readMor]], commit replace) folds deletes into data
    * and strands the old DVs against files no manifest references —
    * harmless, and GC-able with the expired manifests. */
  def deleteWhere(spark: SparkSession, tablePath: String, keyCol: String,
                  predicate: org.apache.spark.sql.Column): Int = {
    val commitId = java.util.UUID.randomUUID().toString
    val dvDir = new Path(new Path(tablePath, "deletes"), commitId)
    readMor(spark, tablePath).filter(predicate)
      .select(keyCol).distinct().write.parquet(dvDir.toString)
    publish(spark, tablePath, commitId) { (head, base) =>
      Some(NextVersion(base, tableSchema(spark, tablePath, head),
        Some("deletes" -> (s"$keyCol\tdeletes/$commitId" +: base.paths)
          .mkString("\n"))))
    }
  }

  /** WRITE–AUDIT–PUBLISH commit (the Iceberg WAP pattern): stage the
    * data files, run the caller's audit on a read-back of EXACTLY the
    * staged files (catching writer bugs, not just bad input frames), and
    * only then publish the manifest. A failing audit deletes the staged
    * files and leaves the table at its prior version — readers can never
    * observe unaudited data because visibility IS the manifest, and a
    * crash between stage and publish leaves only orphan files that
    * [[removeOrphans]] reclaims. Replace semantics (the curated-publish
    * use case). Returns Right(version) or Left(auditError). */
  def commitAudited(spark: SparkSession, df: DataFrame, tablePath: String,
                    audit: DataFrame => Option[String],
                    statsCols: Seq[String] = Seq.empty)
      : Either[String, Int] = {
    val staged = stage(spark, df, tablePath, statsCols)
    audit(spark.read.schema(asNullable(df.schema))
        .parquet(staged.dir.toString)) match {
      case Some(err) =>
        fs(spark, staged.dir).delete(staged.dir, true)
        Left(err)
      // the publish carries the head's per-writer txn watermarks: a WAP
      // publish replaces the DATA, not the writers' exactly-once history
      case None =>
        Right(publishStaged(spark, df.schema, tablePath, staged,
          replace = true))
    }
  }

  /** Roll the table back to `toVersion` as a NEW commit (Delta RESTORE /
    * Iceberg rollback-to-snapshot): the restored state is exactly
    * `readMor(toVersion)`, history is PRESERVED (every prior version —
    * including the ones being undone — stays time-travel readable; the
    * restore is itself one more manifest), and the cost is metadata-only
    * unless a post-`toVersion` delete vector touches the target's files.
    *
    * Delete-vector interaction (the subtle part): vectors apply by
    * `dv.version <= readVersion` over recorded file paths, so a DV
    * committed AFTER `toVersion` would wrongly subtract rows from a
    * restored head that re-references the same paths. Files touched by
    * such a vector are therefore REWRITTEN with their as-of-`toVersion`
    * content (raw bytes minus DVs ≤ `toVersion` — folded in, since old
    * vectors reference the old paths and cannot follow); untouched files
    * carry over BY REFERENCE with their manifest stats verbatim. Restore
    * cost is proportional to the post-target-deleted file set, never the
    * table.
    *
    * Deliberately NOT a conditional (CAS) commit, unlike the derived
    * maintenance writers (upsertSnapshot/compactSnapshot):
    * restore's contract is "make the head equal v`toVersion`" — a commit
    * that lands mid-restore is post-dated data the operator asked to
    * roll past, and it stays time-travel readable like everything else
    * restore undoes. Only the per-writer txn watermarks merge against
    * the TRUE head (under the lock) so idempotent writers never rewind. */
  def restoreSnapshot(spark: SparkSession, tablePath: String,
                      toVersion: Int): Int = {
    require(versions(spark, tablePath).contains(toVersion),
      s"restore target v$toVersion not committed at $tablePath")
    val target = manifest(spark, tablePath, toVersion)
    val allDvs = deleteVectors(spark, tablePath)
    val postDvs = allDvs.filter(_.version > toVersion)
    val affected = target.paths
      .filter(rel => postDvs.exists(_.appliesTo.contains(rel))).toSet
    val rewritten =
      if (affected.isEmpty) None
      else Some(stage(spark, withoutDeletes(spark, tablePath, toVersion,
        affected.toSeq, allDvs.filter(_.version <= toVersion)), tablePath,
        Nil))
    val schema = tableSchema(spark, tablePath, Some(toVersion))
    publish(spark, tablePath, rewritten.fold(
        java.util.UUID.randomUUID().toString)(_.commitId)) { (_, head) =>
      // DATA restores to the as-of state, but per-writer txn watermarks
      // do NOT rewind: Delta RESTORE preserves current SetTransaction
      // state so an in-flight idempotent streaming writer is not
      // double-applied — carrying the as-of values verbatim would let a
      // replayed batch whose id exceeds the rewound watermark re-append.
      // Merge = max(head, as-of) per app, against the true head.
      val txns = head.txns ++ target.txns.map { case (a, i) =>
        a -> math.max(i, head.txns.getOrElse(a, i)) }
      Some(NextVersion(Manifest(txns,
        target.files.filterNot(l => affected.contains(parseEntry(l).path)) ++
          rewritten.fold(Seq.empty[String])(_.files)), schema))
    }
  }

  /** Merge-on-read snapshot read: the pinned file set of `version` minus
    * every applicable delete vector ([[withoutDeletes]]). A table with no
    * delete vectors reads identically to [[read]]. */
  def readMor(spark: SparkSession, tablePath: String,
              version: Option[Int] = None): DataFrame = {
    val v = resolve(spark, tablePath, version)
    val dvs = deleteVectors(spark, tablePath).filter(_.version <= v)
    if (dvs.isEmpty) read(spark, tablePath, Some(v))
    else withoutDeletes(spark, tablePath, v,
      manifest(spark, tablePath, v).paths, dvs)
  }

  /** The data files `rels` of version `v` minus the vectors of `dvs` that
    * apply to each. Files are grouped by WHICH vectors apply to them (the
    * group count is bounded by the distinct append/delete interleavings,
    * not by data size), each group anti-joins its keys on the key column,
    * and the groups union back — so the subtraction is one
    * broadcast-able anti-join per key column over each group, never a
    * rewrite. */
  private def withoutDeletes(spark: SparkSession, tablePath: String, v: Int,
                             rels: Seq[String],
                             dvs: Seq[DeleteVector]): DataFrame =
    rels.groupBy(rel => dvs.filter(_.appliesTo.contains(rel)).map(_.version))
      .map { case (dvVersions, group) =>
        dvs.filter(dv => dvVersions.contains(dv.version))
          .groupBy(_.keyCol).toSeq.sortBy(_._1)
          .foldLeft(readFiles(spark, tablePath, v, group)) {
            case (acc, (kc, ds)) =>
              val keys = ds.map(dd => ListedParquet.readPath(spark,
                  new Path(tablePath, dd.dir).toString))
                .reduce(_ unionByName _).distinct()
              acc.join(keys, Seq(kc), "left_anti")
          }
      }
      .reduce(_ unionByName _)

  /** The `table$history` metadata table (Iceberg/Delta introspection
    * surface): one row per committed version — version, data-file
    * count, whether merge-on-read deletes apply, and the min/max of
    * `statsCol` aggregated over the version's FILE STATS. Built purely
    * from manifests and sidecars: no data file is ever opened, which is
    * the entire point at 100 TB (a table's operational audit — growth,
    * delete debt, value domain — costs manifest bytes). Note the
    * deliberately honest semantics the file stats carry: they are upper
    * bounds over the PHYSICAL rows, so a MOR delete never tightens
    * them — has_deletes tells the reader the live domain may be
    * narrower. */
  def history(spark: SparkSession, tablePath: String,
              statsCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BooleanType, LongType, StructField,
      StructType}
    val dvs = deleteVectors(spark, tablePath)
    val rows = versions(spark, tablePath).map { v =>
      val es = entries(spark, tablePath, Some(v))
      val rels = es.map(_.path).toSet
      val hasDel = dvs.exists(dv =>
        dv.version <= v && dv.appliesTo.exists(rels.contains))
      val bounds = es.flatMap(_.stats.get(statsCol))
      def side(f: Seq[BigDecimal] => BigDecimal, sel: ((BigDecimal,
          BigDecimal)) => BigDecimal): Any =
        if (bounds.isEmpty) null
        else java.lang.Long.valueOf(f(bounds.map(sel)).toLong)
      Row(v.toLong, es.size.toLong, hasDel,
        side(_.min, _._1), side(_.max, _._2))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("n_files", LongType, nullable = false),
        StructField("has_deletes", BooleanType, nullable = false),
        StructField(s"${statsCol}_min", LongType, nullable = true),
        StructField(s"${statsCol}_max", LongType, nullable = true))))
  }

  /** SHALLOW CLONE (Delta `CLONE`, Iceberg snapshot-ref tables): a new
    * table whose v1 manifest references the SOURCE's data files by
    * absolute path — zero data copied, metadata-only cost — after which
    * the clone commits, deletes, and compacts independently (its new
    * data lands under its own path; the shared files are immutable by
    * the format's own contract). The clone's vacuum can never delete
    * source files (it only reclaims files under the clone's path), but
    * the SOURCE's vacuum does not know about clones — the documented
    * Delta shallow-clone caveat, so clone from versions the source's
    * retention keeps.
    *
    * Requires a head free of outstanding delete vectors (run
    * [[compactSnapshot]] first to fold them) — a DV sidecar is keyed to
    * one version's file set and cannot be renumbered into the clone's
    * history safely. The clone's v1 goes through the destination's commit
    * lock, and a destination that already holds a version is refused. */
  def cloneSnapshot(spark: SparkSession, srcPath: String,
                    dstPath: String): Int = {
    val head = resolve(spark, srcPath, None)
    val es = entries(spark, srcPath, Some(head))
    val rels = es.map(_.path).toSet
    require(!deleteVectors(spark, srcPath).exists(dv =>
        dv.version <= head && dv.appliesTo.exists(rels.contains)),
      s"cloneSnapshot: $srcPath head carries merge-on-read deletes — " +
        "compactSnapshot first")
    val abs = es.map(e =>
      renderEntry(e.copy(path = new Path(srcPath, e.path).toString)))
    val schema = tableSchema(spark, srcPath, Some(head))
    publish(spark, dstPath, java.util.UUID.randomUUID().toString) {
      (dstHead, _) =>
        require(dstHead.isEmpty,
          s"cloneSnapshot: $dstPath already holds v${dstHead.get}")
        Some(NextVersion(Manifest(Map.empty, abs), schema))
    }
  }
}
