package graft

import graft.operators.SnapshotTable
import org.apache.spark.sql.functions._

class SnapshotTableSpec extends SparkSpec {
  import SnapshotTable._

  private def tbl() =
    java.nio.file.Files.createTempDirectory("graft_snap").toString + "/t"

  test("commit / head read / time travel / append") {
    val s = spark
    import s.implicits._
    val t = tbl()
    val v1 = commit(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "x"), t)
    val v2 = commit(spark, Seq((3L, "c")).toDF("id", "x"), t) // replace
    val v3 = commit(spark, Seq((4L, "d")).toDF("id", "x"), t,
      replace = false) // append onto v2
    assert((v1, v2, v3) == (1, 2, 3))
    assert(read(spark, t).select("id").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(3L, 4L)) // head = v3 = v2 ∪ append
    assert(read(spark, t, Some(1)).count() == 2) // time travel
    assert(read(spark, t, Some(2)).select("id").head().getLong(0) == 3L)
  }

  // above 32 paths a `spark.read.parquet(files: _*)` lists them with a
  // Spark job; the manifest already is the listing
  test("reads of a 40-file version launch no listing job") {
    val t = tbl()
    commit(spark, spark.range(0, 40, 1, 40).toDF("id"), t,
      statsCols = Seq("id"))
    commit(spark, spark.range(40, 80, 1, 40).toDF("id"), t,
      replace = false, statsCols = Seq("id"))
    var head, pruned, appended: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring {
      head = read(spark, t)
      pruned = readPruned(spark, t, "id", Some(BigDecimal(10)), None)
      appended = readAppendsSince(spark, t, 1)
    } == 0)
    assert(head.count() == 80 && head.inputFiles.length == 80)
    // one id per file: exactly the ten files below id 10 are skipped
    assert(pruned.inputFiles.length == 70 && pruned.count() == 70)
    assert(appended.agg(min("id"), max("id")).head().toSeq == Seq(40L, 79L))
  }

  test("pinned readers are isolated from later commits") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark, Seq((1L, "a")).toDF("id", "x"), t)
    val pinned = read(spark, t) // resolves v1's file list NOW
    commit(spark, Seq((9L, "z")).toDF("id", "x"), t) // head moves to v2
    // the pinned frame still reads v1's immutable files
    assert(pinned.select("id").head().getLong(0) == 1L)
    assert(read(spark, t).select("id").head().getLong(0) == 9L)
  }

  test("a foreign manifest is never clobbered: commit takes the next slot") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark, Seq((1L, "a")).toDF("id", "x"), t)
    // simulate a racing writer that already published v2
    val dir = new java.io.File(new java.net.URI(
      s"file:${t}/_manifests").getPath)
    val racer = new java.io.File(dir, "v2.manifest")
    val w = new java.io.PrintWriter(racer); w.print(""); w.close()
    val v = commit(spark, Seq((2L, "b")).toDF("id", "x"), t)
    assert(v == 3, s"commit must lose the CAS on v2 and take v3, got v$v")
    assert(racer.length() == 0, "the racing writer's manifest survived")
    assert(read(spark, t, Some(3)).select("id").head().getLong(0) == 2L)
  }

  test("compaction commits a new version; pinned readers keep the old") {
    val s = spark
    import s.implicits._
    val t = tbl()
    // many appends → many small files at the head
    commit(spark, Seq((1L, "a")).toDF("id", "x"), t)
    (2 to 5).foreach(i =>
      commit(spark, Seq((i.toLong, "x")).toDF("id", "x"), t,
        replace = false))
    val before = read(spark, t)
    val beforeFiles = before.inputFiles.length
    assert(beforeFiles >= 5, s"expected ≥5 head files, got $beforeFiles")
    val v = compactSnapshot(spark, t) // 5 tiny files → 1
    val after = read(spark, t, Some(v))
    assert(after.inputFiles.length == 1)
    assert(after.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 5L))
    // the pre-compaction pinned reader still sees its own file set
    assert(before.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 5L))
    assert(before.inputFiles.length == beforeFiles)
  }

  test("compaction sizes its output by bytes and preserves content exactly") {
    val s = spark
    import s.implicits._
    val t = tbl()
    val df = (1L to 20000L).map(i => (i, s"row_$i", i * 1.5))
      .toDF("id", "name", "v")
    commit(spark, df.filter($"id" <= 10000).repartition(25), t)
    commit(spark, df.filter($"id" > 10000).repartition(25), t,
      replace = false)
    val files = read(spark, t).inputFiles
    assert(files.length == 50)
    val bytes = files.map(f => new java.io.File(new java.net.URI(f)).length)
      .sum
    val v = compactSnapshot(spark, t, targetBytes = bytes / 4)
    val after = read(spark, t, Some(v))
    assert(after.inputFiles.length >= 4 && after.inputFiles.length < 10,
      after.inputFiles.length)
    assert(after.exceptAll(df).isEmpty && df.exceptAll(after).isEmpty)
  }

  test("compaction refuses a nonsensical target") {
    val t = tbl()
    commit(spark, spark.range(0, 100).toDF("id"), t)
    intercept[IllegalArgumentException] {
      compactSnapshot(spark, t, targetBytes = 0)
    }
    assert(versions(spark, t) == Seq(1))
  }

  // a holder that died mid-commit leaves its lock behind; the lock goes
  // stale 60 s after its mtime, and a writer arriving before then must
  // wait it out and steal it rather than fail
  test("commit outwaits a crashed holder's lock") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark, Seq(1L).toDF("id"), t)
    val lock = new org.apache.hadoop.fs.Path(t, "_manifests/_commit.lock")
    val f = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    java.nio.file.Files.createFile(java.nio.file.Paths.get(lock.toUri.getPath))
    f.setTimes(lock, System.currentTimeMillis() - 45000L, -1L)
    val t0 = System.nanoTime()
    val v = commit(spark, Seq(2L).toDF("id"), t, replace = false)
    val waited = (System.nanoTime() - t0) / 1e9
    assert(v == 2)
    assert(waited > 10.0, s"the lock was taken after only $waited s")
    assert(!f.exists(lock), "the stolen lock was left behind")
    assert(read(spark, t).count() == 2)
  }

  test("upsert commits source-wins merge as a new version") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark,
      Seq((1L, "old", 0), (2L, "old", 0)).toDF("id", "x", "ord"), t)
    // source: conflict on id=2 (two rows — first by ord wins), new id=3
    val src = Seq((2L, "new", 1), (2L, "later", 2), (3L, "new", 1))
      .toDF("id", "x", "ord")
    val v = upsertSnapshot(spark, src, t,
      keyCols = Seq("id"), orderCol = "ord")
    val rows = read(spark, t, Some(v)).select("id", "x")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "old", 2L -> "new", 3L -> "new"))
    // time travel still shows the pre-merge table
    assert(read(spark, t, Some(1)).select("x").collect()
      .map(_.getString(0)).toSet == Set("old"))
  }

  test("upsert survives an interleaved commit: the CAS fails, the merge " +
    "re-derives, and the interleaved rows are in the final table") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark, Seq((1L, "old", 0)).toDF("id", "x", "ord"), t)
    // a registration-style commit lands BETWEEN the upsert's snapshot
    // read and its publish (exactly once — the retry must then succeed)
    var fired = false
    val v = upsertSnapshot(spark,
      Seq((2L, "new", 1)).toDF("id", "x", "ord"), t,
      keyCols = Seq("id"), orderCol = "ord",
      onBeforePublish = () => if (!fired) {
        fired = true
        commit(spark, Seq((9L, "interleaved", 0)).toDF("id", "x", "ord"),
          t, replace = false)
      })
    // v1 base, v2 interleaved, v3 failed-CAS retry's successful publish
    assert(v == 3, s"expected the retried upsert at v3, got v$v")
    val rows = read(spark, t).select("id", "x")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "old", 2L -> "new", 9L -> "interleaved"),
      s"lost update: $rows")
  }

  test("scoped upsertSnapshot and compactSnapshot survive an interleaved " +
    "commit") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark, Seq((1L, "keep", 0), (5L, "sync_me", 0))
      .toDF("id", "x", "ord"), t)
    var fired = false
    // the interleaved row is OUT of the sync scope (id < 5): the scoped
    // upsert's delete clause may legitimately remove in-scope rows the
    // source no longer carries, so surviving-the-race is only observable
    // (and only required) for data the sync semantics don't delete
    val v = upsertSnapshot(spark,
      Seq((6L, "synced", 1)).toDF("id", "x", "ord"),
      t, keyCols = Seq("id"), orderCol = "ord", scope = col("id") >= 5L,
      onBeforePublish = () => if (!fired) {
        fired = true
        commit(spark, Seq((2L, "interleaved", 0)).toDF("id", "x", "ord"),
          t, replace = false)
      })
    assert(v == 3)
    val rows = read(spark, t).select("id", "x")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // in-scope id=5 replaced by the source's id=6; out-of-scope id=1 and
    // the interleaved id=2 both survive
    assert(rows == Map(1L -> "keep", 2L -> "interleaved", 6L -> "synced"),
      s"lost update: $rows")
    var fired2 = false
    val vc = compactSnapshot(spark, t,
      onBeforePublish = () => if (!fired2) {
        fired2 = true
        commit(spark, Seq((11L, "late", 0)).toDF("id", "x", "ord"),
          t, replace = false)
      })
    assert(vc == 5)
    assert(read(spark, t).select("id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 6L, 11L), "compaction erased the interleaved commit")
  }

  test("concurrent committers never lose or clobber a commit") {
    val s = spark
    import s.implicits._
    val t = tbl()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      // 4 threads × 3 appends race on the manifest CAS
      val fs = (1 to 12).map { i =>
        scala.concurrent.Future {
          commit(spark, Seq((i.toLong, s"w$i")).toDF("id", "x"), t,
            replace = false)
        }
      }
      val versions = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(fs),
        scala.concurrent.duration.Duration(120, "s"))
      // every commit won a distinct version 1..12
      assert(versions.sorted == (1 to 12),
        s"lost/duplicated versions: ${versions.sorted}")
      // the head accumulated every append exactly once
      assert(read(spark, t).select("id").collect().map(_.getLong(0))
        .sorted.toSeq == (1L to 12L))
    } finally { ec.shutdown(); pool.shutdown() }
  }

  test("vacuum deletes only unreferenced files and expired reads fail") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark, Seq((1L, "a")).toDF("id", "x"), t)        // v1
    commit(spark, Seq((2L, "b")).toDF("id", "x"), t)        // v2 replace
    commit(spark, Seq((3L, "c")).toDF("id", "x"), t,
      replace = false)                                       // v3 = v2+new
    val deleted = vacuum(spark, t, keepFrom = 2)
    assert(deleted == 1, s"only v1's file is unreferenced, got $deleted")
    // v2's files survive (v3 still references them)
    assert(read(spark, t, Some(2)).count() == 1)
    assert(read(spark, t, Some(3)).count() == 2)
    intercept[IllegalArgumentException](read(spark, t, Some(1)))
    intercept[IllegalArgumentException](vacuum(spark, t, keepFrom = 99))
  }

  test("schema evolution: add-column appends, old files read null, " +
    "time travel keeps the old schema") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark, Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"), t)
    commit(spark, Seq((3L, 3.0, "x")).toDF("id", "v", "tag"), t,
      replace = false)
    val head = read(spark, t)
    assert(head.schema.fieldNames.toSeq == Seq("id", "v", "tag"))
    val rows = head.orderBy("id").collect()
    assert(rows.map(r => (r.getLong(0), r.isNullAt(2))).toSeq ==
      Seq((1L, true), (2L, true), (3L, false)))
    assert(read(spark, t, Some(1)).schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("schema evolution: a dropped-in-source column survives (new files " +
    "read it as null) and a type change is refused") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark, Seq((1L, "keep")).toDF("id", "x"), t)
    // source omits x entirely: the table keeps it, the new file nulls it
    commit(spark, Seq(Tuple1(2L)).toDF("id"), t, replace = false)
    val head = read(spark, t).orderBy("id").collect()
    assert(head.map(r => (r.getLong(0), r.isNullAt(1))).toSeq ==
      Seq((1L, false), (2L, true)))
    // type change refused, and refused BEFORE writing data (no orphan dir)
    val ex = intercept[IllegalArgumentException](
      commit(spark, Seq((3L, 9.9)).toDF("id", "x"), t, replace = false))
    assert(ex.getMessage.contains("'x'"))
    val dataDir = new org.apache.hadoop.fs.Path(t, "data")
    val f = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.listStatus(dataDir).length == 2,
      "the refused commit left an orphan data dir")
  }

  test("readAppendsSince returns exactly the appended rows and refuses " +
    "rewritten chains") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark, Seq((1L, "a")).toDF("id", "x"), t)
    commit(spark, Seq((2L, "b")).toDF("id", "x"), t, replace = false)
    commit(spark, Seq((3L, "c")).toDF("id", "x"), t, replace = false)
    val incr = SnapshotTable.readAppendsSince(spark, t, 1)
    assert(incr.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(2L, 3L))
    // since == to → empty, schema preserved
    assert(SnapshotTable.readAppendsSince(spark, t, 3).count() == 0)
    // a replace breaks the chain
    commit(spark, Seq((9L, "z")).toDF("id", "x"), t)
    intercept[IllegalArgumentException](
      SnapshotTable.readAppendsSince(spark, t, 2))
  }

  test("removeOrphans deletes only unreferenced, aged-out commit debris") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark, Seq((1L, "a")).toDF("id", "x"), t)
    // fake a crashed commit: a data dir no manifest references
    val orphan = new org.apache.hadoop.fs.Path(t, "data/dead-commit")
    Seq((9L, "z")).toDF("id", "x").write.parquet(orphan.toString)
    val f = orphan.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // young debris is protected by the age horizon
    assert(SnapshotTable.removeOrphans(spark, t) == 0)
    assert(f.exists(orphan))
    // aged debris is collected; the live table is untouched
    val aged = System.currentTimeMillis() - 48L * 3600 * 1000
    f.setTimes(orphan, aged, -1)
    assert(SnapshotTable.removeOrphans(spark, t,
      olderThanMs = 24L * 3600 * 1000) >= 1)
    assert(!f.exists(orphan))
    assert(read(spark, t).count() == 1)
  }

  test("vacuum drops expired schema sidecars with their manifests") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark, Seq((1L, "a")).toDF("id", "x"), t)
    commit(spark, Seq((2L, "b")).toDF("id", "x"), t)
    vacuum(spark, t, keepFrom = 2)
    val mdir = new org.apache.hadoop.fs.Path(t, "_manifests")
    val f = mdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = f.listStatus(mdir).map(_.getPath.getName).toSet
    assert(!names.contains("v1.schema.json") &&
      names.contains("v2.schema.json"), names.toString)
  }

  test("merge-on-read delete: no rewrite, keys subtracted, time travel") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "x"), t)
    val before = entries(spark, t, Some(1)).map(_.path)
    val v2 = deleteWhere(spark, t, "id", col("id") % 2 === 0)
    assert(v2 == 2)
    // the data-file set is untouched — that's the merge-on-read contract
    assert(entries(spark, t, Some(2)).map(_.path) == before)
    assert(readMor(spark, t).select("id").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 3L))
    // time travel to v1 sees the pre-delete rows
    assert(readMor(spark, t, Some(1)).count() == 3)
    // plain read of v2 ignores DVs by design (file-level view)
    assert(read(spark, t, Some(2)).count() == 3)
  }

  test("equality delete is scoped to its generation: re-inserts survive") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "x"), t)
    deleteWhere(spark, t, "id", col("id") === 2L)
    // re-insert the deleted key in a LATER append — the v2 delete must
    // not hide it (sequence-number scoping)
    commit(spark, Seq((2L, "b2")).toDF("id", "x"), t, replace = false)
    val rows = readMor(spark, t).as[(Long, String)].collect().sorted
    assert(rows.toSeq == Seq((1L, "a"), (2L, "b2")), rows.mkString(","))
    // while time travel to the deleted-but-not-reinserted version shows
    // only the survivor
    assert(readMor(spark, t, Some(2)).as[(Long, String)].collect()
      .toSeq == Seq((1L, "a")))
  }

  test("delete vectors keep applying after their manifest is vacuumed") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "x"), t)
    deleteWhere(spark, t, "id", col("id") === 1L)         // v2
    commit(spark, Seq((3L, "c")).toDF("id", "x"), t, replace = false) // v3
    vacuum(spark, t, keepFrom = 3)
    // v2's manifest is gone but its DV still applies to v1's files,
    // which carried forward into v3
    assert(readMor(spark, t).select("id").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(2L, 3L))
  }

  test("compaction and upsert fold delete vectors, never resurrect") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "x"), t)
    deleteWhere(spark, t, "id", col("id") === 2L)
    compactSnapshot(spark, t)
    // the rewrite folded the DV: 2 stays gone at the new head
    assert(readMor(spark, t).select("id").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 3L))
    // and an upsert on a DV'd table honors the deletes in its base
    val t2 = tbl()
    commit(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "x"), t2)
    deleteWhere(spark, t2, "id", col("id") === 2L)
    upsertSnapshot(spark, Seq((3L, "c")).toDF("id", "x"), t2,
      keyCols = Seq("id"), orderCol = "id")
    assert(readMor(spark, t2).select("id").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 3L))
  }

  test("deleting an already-deleted key is a no-op delete vector") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "x"), t)
    deleteWhere(spark, t, "id", col("id") === 2L)
    // second delete matches only already-deleted rows → empty key file,
    // still a recorded vector that reads
    deleteWhere(spark, t, "id", col("x") === "b")
    assert(deleteVectors(spark, t).size == 2)
    assert(readMor(spark, t).count() == 1)
  }

  // a delete vector is a flat Spark output directory: its keys take
  // their schema from one footer on the driver, so building a
  // merge-on-read read launches no job per applicable vector
  test("readMor builds with the same job count at 0, 1 and 2 delete vectors") {
    val t = tbl()
    commit(spark, spark.range(0, 20).toDF("id"), t)
    def building(): Int = jobsDuring { readMor(spark, t); () }
    val jobs = building() +: (1L to 2L).map { k =>
      deleteWhere(spark, t, "id", col("id") === k)
      building()
    }
    assert(jobs.distinct.size == 1, jobs)
    assert(readMor(spark, t).count() == 18)
  }

  test("commitAudited publishes only on a passing audit") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark, Seq((1L, "a")).toDF("id", "x"), t)
    def audit(df: org.apache.spark.sql.DataFrame): Option[String] =
      if (df.filter(col("x").isNull).count() > 0) Some("null x") else None
    // rejected: version chain untouched, staged files reclaimed
    val bad = Seq((2L, null: String)).toDF("id", "x")
    assert(commitAudited(spark, bad, t, audit) == Left("null x"))
    assert(versions(spark, t) == Seq(1))
    assert(read(spark, t).select("id").head().getLong(0) == 1L)
    val dataDirs = new java.io.File(t, "data").listFiles().length
    assert(dataDirs == 1)
    // accepted: lands as the next version with replace semantics
    assert(commitAudited(spark, Seq((9L, "z")).toDF("id", "x"), t,
      audit) == Right(2))
    assert(read(spark, t).select("id").head().getLong(0) == 9L)
  }

  test("tags pin versions through vacuum; dropped tags become expirable") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark, Seq((1L, "a")).toDF("id", "x"), t)
    commit(spark, Seq((2L, "b")).toDF("id", "x"), t)
    commit(spark, Seq((3L, "c")).toDF("id", "x"), t)
    setRef(spark, t, "baseline", 1)
    vacuum(spark, t, keepFrom = 3)
    // tagged v1 survives, untagged v2 expired
    assert(versions(spark, t) == Seq(1, 3))
    assert(readRef(spark, t, "baseline").select("id").head()
      .getLong(0) == 1L)
    // moving then dropping the tag releases the pin
    setRef(spark, t, "baseline", 3)
    assert(refs(spark, t) == Map("baseline" -> 3))
    dropRef(spark, t, "baseline")
    vacuum(spark, t, keepFrom = 3)
    assert(versions(spark, t) == Seq(3))
    intercept[IllegalArgumentException] {
      readRef(spark, t, "baseline")
    }
  }

  test("restore is metadata-only without post-target deletes and " +
      "preserves history") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "x"), t)
    commit(spark, Seq((9L, "z")).toDF("id", "x"), t) // v2 replace
    val v3 = restoreSnapshot(spark, t, 1)
    assert(v3 == 3)
    // same files re-referenced, nothing rewritten
    assert(entries(spark, t, Some(3)).map(_.path).toSet ==
      entries(spark, t, Some(1)).map(_.path).toSet)
    assert(read(spark, t).select("id").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L))
    // the undone v2 stays readable; restoring a restore works too
    assert(read(spark, t, Some(2)).select("id").head().getLong(0) == 9L)
    val v4 = restoreSnapshot(spark, t, 2)
    assert(v4 == 4 &&
      read(spark, t).select("id").head().getLong(0) == 9L)
  }

  test("restore rewrites exactly the files a post-target vector touches, " +
      "folding in pre-target deletes") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "x"), t)
    deleteWhere(spark, t, "id", col("id") === 2L)   // v2: pre-target DV
    commit(spark, Seq((4L, "d")).toDF("id", "x"), t,
      replace = false)                              // v3: append
    restoreSnapshot(spark, t, 2)                    // v4: drops the append
    deleteWhere(spark, t, "id", col("id") === 3L)   // v5: DV on v1's files
    val v6 = restoreSnapshot(spark, t, 3)
    assert(v6 == 6)
    // as-of-3 state: v2's delete applied, v5's undone, append back
    assert(readMor(spark, t).select("id").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 3L, 4L))
    val v1f = entries(spark, t, Some(1)).map(_.path).toSet
    val v3f = entries(spark, t, Some(3)).map(_.path).toSet
    val v6f = entries(spark, t, Some(6)).map(_.path).toSet
    // v1's files (touched by v5's vector) rewritten; the append files
    // (untouched by it) carried by reference
    assert(v6f.intersect(v1f).isEmpty)
    assert((v3f -- v1f).subsetOf(v6f))
  }

  test("readAsOfTime: latest-at-or-before, tie → later version, " +
    "untimed commits stay off the time axis") {
    val s = spark
    import s.implicits._
    val t = tbl()
    commit(spark, Seq((1L, "a")).toDF("id", "x"), t,
      commitTime = Some(100L))
    commit(spark, Seq((2L, "b")).toDF("id", "x"), t,
      commitTime = Some(200L))
    // same logical time as v2: a tie resolves to the LATER version
    commit(spark, Seq((3L, "c")).toDF("id", "x"), t,
      commitTime = Some(200L))
    val vU = commit(spark, Seq((9L, "z")).toDF("id", "x"), t) // untimed
    def idAt(ts: Long) =
      readAsOfTime(spark, t, ts).head().getLong(0)
    assert(idAt(100L) == 1L) // exact boundary → that commit
    assert(idAt(150L) == 1L) // between commits → earlier
    assert(idAt(200L) == 3L) // tie → later version wins
    assert(idAt(9999L) == 3L) // untimed head never shadows the axis
    assert(read(spark, t, Some(vU)).head().getLong(0) == 9L)
    assert(commitTimeOf(spark, t, vU).isEmpty)
    intercept[IllegalArgumentException](readAsOfTime(spark, t, 99L))
  }
}
