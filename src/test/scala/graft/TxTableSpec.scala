package graft

import org.apache.spark.sql.functions._

import graft.sources.TxTable

/** Transactional snapshot layer: commit protocol, isolation, time
  * travel, conflict detection, orphan accounting.
  */
class TxTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_tx_spec_").toString + "/t"

  test("append and overwrite commits version correctly; reads are snapshot-isolated") {
    val table = freshTable()
    val a = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val b = Seq((3L, "c")).toDF("id", "s")
    val c = Seq((9L, "z")).toDF("id", "s")
    TxTable.commit(a, table) shouldBe 1
    TxTable.commit(b, table) shouldBe 2
    val v2Read = TxTable.readVersion(spark, table, 2) // resolve BEFORE v3 exists
    TxTable.commit(c, table, op = "overwrite") shouldBe 3
    TxTable.readVersion(spark, table, 1).collect().map(_.getLong(0)).sorted shouldBe Seq(1L, 2L)
    TxTable.readVersion(spark, table, 2).collect().map(_.getLong(0)).sorted shouldBe Seq(1L, 2L, 3L)
    TxTable.read(spark, table).collect().map(_.getLong(0)) shouldBe Seq(9L)
    // a dataframe resolved at version 2 still reads version 2 after
    // the overwrite — files and manifests are immutable
    v2Read.collect().map(_.getLong(0)).sorted shouldBe Seq(1L, 2L, 3L)
    TxTable.history(spark, table).collect()
      .map(r => (r.getInt(0), r.getString(1))) shouldBe
      Array((1, "append"), (2, "append"), (3, "overwrite"))
  }

  test("a commit losing the version race fails loudly, and its files surface as orphans") {
    val table = freshTable()
    TxTable.commit(Seq((1L, "a")).toDF("id", "s"), table) shouldBe 1
    // the race window is between the head read and the manifest
    // create: this writer targeted v2, then a competitor published v2
    // first — the version-pinned body reproduces that deterministically
    val winner = new java.io.File(s"$table/_manifests/v2.json")
    val fw = new java.io.FileWriter(winner)
    fw.write("""{"version":2,"op":"append","n_files":0,"files":[]}"""); fw.close()
    val ex = intercept[RuntimeException] {
      TxTable.commitAs(Seq((2L, "b")).toDF("id", "s"), table, 2, "append")
    }
    ex.getMessage should include("conflict")
    // a publish AFTER the competitor's manifest lands is NOT a
    // conflict — the head re-read simply targets the next version
    TxTable.commit(Seq((3L, "c")).toDF("id", "s"), table) shouldBe 3
    // the loser's already-moved data files are unreferenced → orphans
    val orphans = TxTable.orphans(spark, table)
    orphans.foreach(_ should startWith("data/v2_"))
    orphans should not be empty
    // referenced files are never orphans
    TxTable.orphans(spark, table).intersect(
      TxTable.filesOf(spark, table, 1)) shouldBe empty
  }

  test("eight genuinely-racing writers: every version has exactly one winner, no manifest lost") {
    val table = freshTable()
    import spark.implicits._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // every writer retries on conflict against the fresh head — the
    // documented caller loop; all 8 single-row commits must land
    val futures = (1 to 8).map { i =>
      scala.concurrent.Future {
        var committed = -1
        var attempts = 0
        while (committed < 0 && attempts < 50) {
          attempts += 1
          try committed = TxTable.commit(Seq((i.toLong, s"w$i")).toDF("id", "s"), table)
          catch { case e: RuntimeException if e.getMessage.contains("conflict") => () }
        }
        committed
      }
    }
    val versions = futures.map(f =>
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration(120, "s")))
    pool.shutdown()
    // exactly versions 1..8, each won by exactly one writer
    versions.sorted shouldBe (1 to 8)
    TxTable.currentVersion(spark, table) shouldBe 8
    // the final snapshot carries every committed row exactly once
    TxTable.read(spark, table).collect().map(_.getLong(0)).sorted shouldBe (1L to 8L)
    // history is contiguous and every manifest resolves
    (1 to 8).foreach(v => TxTable.filesOf(spark, table, v) should not be empty)
  }

  test("changes replays exactly the delta: append = new files only, overwrite = delete+insert, compact = silent") {
    val table = freshTable()
    TxTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), table) shouldBe 1
    TxTable.commit(Seq((3L, "c")).toDF("id", "s"), table) shouldBe 2
    TxTable.compact(spark, table)._1 shouldBe 3
    TxTable.commit(Seq((9L, "z")).toDF("id", "s"), table, op = "overwrite") shouldBe 4
    def evs(from: Int, to: Int) = TxTable.changes(spark, table, from, to)
      .select("_version", "_change", "id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sorted.toSeq
    // append step: only v2's new rows, never a v1 rescan
    evs(1, 2) shouldBe Seq((2, "insert", 3L))
    // compact step is byte-only: no row events at all (dataChange=false)
    evs(2, 3) shouldBe Seq.empty[(Int, String, Long)]
    // the overwrite deletes the (compacted) prior snapshot and inserts the new one
    evs(3, 4) shouldBe Seq((4, "delete", 1L), (4, "delete", 2L), (4, "delete", 3L), (4, "insert", 9L))
    // full replay from the beginning composes all of it
    evs(0, 4) shouldBe Seq(
      (1, "insert", 1L), (1, "insert", 2L), (2, "insert", 3L),
      (4, "delete", 1L), (4, "delete", 2L), (4, "delete", 3L), (4, "insert", 9L))
  }

  test("compact shrinks the snapshot's file count, preserves content, and keeps time travel intact") {
    val table = freshTable()
    val df = spark.range(1000).select(col("id"), (col("id") % 7).cast("string").as("s"))
    TxTable.commit(df.repartition(8), table) shouldBe 1
    TxTable.filesOf(spark, table, 1).size shouldBe 8
    TxTable.compact(spark, table)._1 shouldBe 2 // 1000 tiny rows << targetBytes → 1 file
    TxTable.filesOf(spark, table, 2).size shouldBe 1
    TxTable.opOf(spark, table, 2) shouldBe "compact"
    // content-preserving: same rows before and after
    TxTable.readVersion(spark, table, 2).collect().map(_.getLong(0)).sorted shouldBe
      TxTable.readVersion(spark, table, 1).collect().map(_.getLong(0)).sorted
    // pre-compaction snapshot still resolves (files untouched)
    TxTable.readVersion(spark, table, 1).count() shouldBe 1000
  }

  test("vacuum deletes only orphans; expireVersions reclaims replaced history and keeps live versions whole") {
    val table = freshTable()
    TxTable.commit(Seq((1L, "a")).toDF("id", "s"), table) shouldBe 1
    TxTable.commit(Seq((2L, "b")).toDF("id", "s"), table) shouldBe 2
    // plant a lost-race orphan (version ≤ head → a genuinely dead file)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$table/data/v1_9_deadbeef.parquet"), Array[Byte](1))
    // ...and an in-flight commit's file (version > head): protected
    // from vacuum REGARDLESS of age — its manifest may be about to
    // publish
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$table/data/v9_0_inflight.parquet"), Array[Byte](1))
    TxTable.vacuum(spark, table, minAgeMs = 0) shouldBe Seq("data/v1_9_deadbeef.parquet")
    new java.io.File(s"$table/data/v1_9_deadbeef.parquet").exists() shouldBe false
    new java.io.File(s"$table/data/v9_0_inflight.parquet").exists() shouldBe true
    // under the default 24h age gate a FRESH dead file survives too
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$table/data/v1_8_fresh.parquet"), Array[Byte](1))
    TxTable.vacuum(spark, table) shouldBe Seq.empty
    // ...but an AGED one (mtime 25h ago) is reclaimed by the default
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$table/data/v1_8_fresh.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 25L * 3600 * 1000))
    TxTable.vacuum(spark, table) shouldBe Seq("data/v1_8_fresh.parquet")
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$table/data/v9_0_inflight.parquet"))
    // overwrite makes v1/v2 history; expire down to the head only
    TxTable.commit(Seq((9L, "z")).toDF("id", "s"), table, op = "overwrite") shouldBe 3
    val (expired, deleted) = TxTable.expireVersions(spark, table, keepLast = 1)
    expired shouldBe Seq(1, 2)
    deleted should not be empty
    // v2 carried v1's files forward: every expired file is really gone
    deleted.foreach(rel => new java.io.File(s"$table/$rel").exists() shouldBe false)
    // expired manifests are gone → time travel fails loudly
    intercept[IllegalArgumentException] { TxTable.readVersion(spark, table, 1) }
    // the live head is untouched and whole
    TxTable.read(spark, table).collect().map(_.getLong(0)) shouldBe Seq(9L)
    TxTable.history(spark, table).collect().map(_.getInt(0)) shouldBe Array(3)
    // expiring again is a no-op
    TxTable.expireVersions(spark, table, keepLast = 1) shouldBe ((Seq.empty, Seq.empty))
  }

  test("readVersion reads the manifest's explicit file list, never a directory listing") {
    val table = freshTable()
    TxTable.commit(Seq((1L, "a")).toDF("id", "s"), table)
    // plant a stray parquet in data/ — a listing-based reader would
    // pick it up; the manifest reader must not
    Seq((99L, "stray")).toDF("id", "s").coalesce(1)
      .write.parquet(s"$table/_stray")
    val strayPart = new java.io.File(s"$table/_stray").listFiles()
      .filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.copy(strayPart.toPath,
      java.nio.file.Paths.get(s"$table/data/stray.parquet"))
    TxTable.read(spark, table).collect().map(_.getLong(0)) shouldBe Seq(1L)
    TxTable.orphans(spark, table) should contain("data/stray.parquet")
  }

  test("vacuum racing live commits never deletes a published manifest's files") {
    val table = freshTable()
    TxTable.commit(Seq((0L, "seed")).toDF("id", "s"), table) shouldBe 1
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // the adversarial maintenance job: minAgeMs=0 (no age protection)
    // so ONLY the in-flight version skip stands between a racing
    // vacuum and the files a commit has renamed into data/ but not
    // yet published a manifest for
    val vac = new Thread(() => {
      while (!stop.get()) { TxTable.vacuum(spark, table, minAgeMs = 0); () }
    })
    vac.start()
    try (2 to 13).foreach { i =>
      TxTable.commit(Seq((i.toLong, s"w$i")).toDF("id", "s"), table) shouldBe i
    } finally { stop.set(true); vac.join() }
    // every published manifest's files all exist and resolve
    (1 to 13).foreach { v =>
      TxTable.filesOf(spark, table, v).foreach { rel =>
        assert(new java.io.File(s"$table/$rel").exists(), s"v$v lost $rel to vacuum")
      }
      TxTable.readVersion(spark, table, v).count() shouldBe v
    }
    TxTable.read(spark, table).collect().map(_.getLong(0)).sorted shouldBe (Seq(0L) ++ (2L to 13L))
  }

  test("append refuses a schema-incompatible frame loudly; reordered columns round-trip; overwrite may change schema") {
    val table = freshTable()
    TxTable.commit(Seq((1L, "a")).toDF("id", "s"), table) shouldBe 1
    // new column → refusal naming both schemas, BEFORE any data lands
    val ex = intercept[IllegalArgumentException] {
      TxTable.commit(Seq((2L, "b", 0.5)).toDF("id", "s", "score"), table)
    }
    ex.getMessage should include("schema mismatch")
    ex.getMessage should include("score")
    TxTable.currentVersion(spark, table) shouldBe 1 // nothing committed
    TxTable.orphans(spark, table) shouldBe empty    // nothing written either
    // same type change → refusal too
    intercept[IllegalArgumentException] {
      TxTable.commit(Seq(("2", "b")).toDF("id", "s"), table)
    }.getMessage should include("schema mismatch")
    // REORDERED columns are compatible (parquet resolves by name):
    // the mixed snapshot round-trips losslessly
    TxTable.commit(Seq(("c", 3L)).toDF("s", "id"), table) shouldBe 2
    TxTable.read(spark, table).select("id", "s").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted shouldBe Seq((1L, "a"), (3L, "c"))
    // overwrite is the documented schema-change path
    TxTable.commit(Seq((9L, "z", 1.0)).toDF("id", "s", "score"), table, op = "overwrite") shouldBe 3
    TxTable.read(spark, table).columns.sorted shouldBe Array("id", "s", "score").sorted
  }

  test("the committer seam drives the conflict path: a publish returning false raises the retryable conflict") {
    val table = freshTable()
    TxTable.commit(Seq((1L, "a")).toDF("id", "s"), table) shouldBe 1
    val alwaysLose = new graft.sources.TxCommitter {
      def publish(f: org.apache.hadoop.fs.FileSystem, mp: org.apache.hadoop.fs.Path,
                  json: String, nonce: String): Boolean = false
    }
    TxTable.committerOverride = Some(alwaysLose)
    try {
      val ex = intercept[RuntimeException] {
        TxTable.commit(Seq((2L, "b")).toDF("id", "s"), table)
      }
      ex.getMessage should include("conflict")
    } finally TxTable.committerOverride = None
    // the doomed writer's data files surfaced as orphans; the table is intact
    TxTable.currentVersion(spark, table) shouldBe 1
    TxTable.orphans(spark, table).foreach(_ should startWith("data/v2_"))
    // with the real committer the same commit lands
    TxTable.commit(Seq((2L, "b")).toDF("id", "s"), table) shouldBe 2
  }

  test("a crash mid-expiry leaves only vacuum-reclaimable orphans, never a dangling manifest") {
    val table = freshTable()
    TxTable.commit(Seq((1L, "a")).toDF("id", "s"), table) shouldBe 1
    TxTable.commit(Seq((2L, "b")).toDF("id", "s"), table) shouldBe 2
    TxTable.commit(Seq((9L, "z")).toDF("id", "s"), table, op = "overwrite") shouldBe 3
    val v1Files = TxTable.filesOf(spark, table, 1)
    val v2Files = TxTable.filesOf(spark, table, 2)
    // simulate expireVersions crashing BETWEEN its two phases: the
    // expired manifests are gone, their data files are not
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$table/_manifests/v1.json"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$table/_manifests/v2.json"))
    // no dangling manifest: every live version still resolves fully
    TxTable.liveVersions(spark, table) shouldBe Seq(3)
    TxTable.read(spark, table).collect().map(_.getLong(0)) shouldBe Seq(9L)
    // the stranded files are exactly the orphan set…
    TxTable.orphans(spark, table).toSet shouldBe (v1Files ++ v2Files).toSet
    // …and vacuum reclaims them (no in-flight versions here)
    TxTable.vacuum(spark, table, minAgeMs = 0).toSet shouldBe (v1Files ++ v2Files).toSet
    TxTable.orphans(spark, table) shouldBe empty
  }

  test("commit times are strictly monotonic; readAsOf resolves boundaries exactly") {
    val table = freshTable()
    TxTable.commit(Seq((1L, "a")).toDF("id", "s"), table)
    TxTable.commit(Seq((2L, "b")).toDF("id", "s"), table)
    TxTable.commit(Seq((9L, "z")).toDF("id", "s"), table, op = "overwrite")
    val ts = (1 to 3).map(v => TxTable.commitMsOf(spark, table, v))
    ts.sliding(2).foreach { case Seq(a, b) => assert(a < b) } // strict, even same-ms commits
    // at v2's commit time: v1+v2 content
    TxTable.readAsOf(spark, table, ts(1)).collect().map(_.getLong(0)).sorted shouldBe Seq(1L, 2L)
    // one ms before v3: still v2's snapshot
    TxTable.readAsOf(spark, table, ts(2) - 1).collect().map(_.getLong(0)).sorted shouldBe Seq(1L, 2L)
    // at/after v3: the overwrite
    TxTable.readAsOf(spark, table, ts(2) + 1000).collect().map(_.getLong(0)) shouldBe Seq(9L)
    // before the first commit: loud refusal, not an empty frame
    val ex = intercept[IllegalArgumentException] {
      TxTable.readAsOf(spark, table, ts(0) - 1)
    }
    ex.getMessage should include("existed at ts")
  }

  test("object-store CAS committer: eight racing writers, exactly one wins each version, no manifest orphans (r8)") {
    val table = freshTable()
    // the full protocol through the conditional-put path (the S3
    // If-None-Match / GCS generation-match contract, emulated locally)
    graft.sources.TxTable.committerOverride =
      Some(new graft.sources.ObjectStoreCommitter(new graft.sources.LocalEmulatedObjectStore))
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futures = (1 to 8).map { i =>
        scala.concurrent.Future {
          var committed = -1
          var attempts = 0
          while (committed < 0 && attempts < 50) {
            attempts += 1
            try committed = TxTable.commit(Seq((i.toLong, s"w$i")).toDF("id", "s"), table)
            catch { case e: RuntimeException if e.getMessage.contains("conflict") => () }
          }
          committed
        }
      }
      val versions = futures.map(f =>
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration(120, "s")))
      pool.shutdown()
      versions.sorted shouldBe (1 to 8)
      TxTable.read(spark, table).collect().map(_.getLong(0)).sorted shouldBe (1L to 8L)
      // no orphaned manifest: the _manifests dir holds EXACTLY v1..v8,
      // no staged .tmp survivors from the losing CAS attempts
      val names = new java.io.File(s"$table/_manifests").listFiles().map(_.getName).sorted
      names.toSeq shouldBe (1 to 8).map(v => s"v$v.json")
    } finally TxTable.committerOverride = None
  }

  test("duplicate-batch delivery races through the object-store CAS: exactly one applies (r8)") {
    val table = freshTable()
    TxTable.committerOverride =
      Some(new graft.sources.ObjectStoreCommitter(new graft.sources.LocalEmulatedObjectStore))
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      // four writers deliver the SAME (appId, batchId) concurrently —
      // the crashy-sink worst case on an object store: one must win the
      // conditional put, the rest must land as already-applied no-ops
      val futures = (1 to 4).map { _ =>
        scala.concurrent.Future {
          TxTable.commitIdempotent(Seq((1L, "x")).toDF("id", "s"), table, "dup", 7L)
        }
      }
      val results = futures.map(f =>
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration(120, "s")))
      results.count(_._2) shouldBe 1                 // exactly one applied
      results.map(_._1).distinct shouldBe Seq(1)     // all see version 1
      TxTable.currentVersion(spark, table) shouldBe 1
      TxTable.read(spark, table).count() shouldBe 1L // the row landed once
      pool.shutdown()
    } finally TxTable.committerOverride = None
  }

  test("tx-changes stream schema pins at start: a mid-stream evolution keeps emitting the pinned shape (r8)") {
    import graft.sources.TxChangesStream
    val table = freshTable()
    TxTable.commit(Seq((1L, "a")).toDF("id", "s"), table) shouldBe 1
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_txsch_ckpt_").toString
    def runOnce(): Unit = {
      val q = TxChangesStream.readChangesStream(spark, table)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.add(b.columns.toSeq); ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    // the table evolves while the stream is down; the RESTARTED stream
    // re-pins from the new head (the documented restart rule), but a
    // batch never mixes shapes mid-stream
    TxTable.commitEvolve(Seq((2L, "b", 9L)).toDF("id", "s", "extra"), table) shouldBe 2
    runOnce()
    import scala.jdk.CollectionConverters._
    val shapes = buf.asScala.toSeq
    shapes.head shouldBe Seq("id", "s", "_change", "_version", "_commit_ms")
    shapes.last shouldBe Seq("id", "s", "extra", "_change", "_version", "_commit_ms")
  }

  test("restore is zero-copy, preserves history, and survives vacuum/expire correctly (r8)") {
    val table = freshTable()
    TxTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), table) shouldBe 1
    TxTable.commit(Seq((3L, "c")).toDF("id", "s"), table) shouldBe 2
    TxTable.commit(Seq((9L, "z")).toDF("id", "s"), table, op = "overwrite") shouldBe 3
    val rv = TxTable.restore(spark, table, 2)
    rv shouldBe 4
    // content rolled back; files REFERENCED, not copied
    TxTable.read(spark, table).collect().map(_.getLong(0)).sorted shouldBe Seq(1L, 2L, 3L)
    TxTable.filesOf(spark, table, 4).toSet shouldBe TxTable.filesOf(spark, table, 2).toSet
    TxTable.opOf(spark, table, 4) shouldBe "restore"
    // the bad v3 stays travelable until retention expires it
    TxTable.readVersion(spark, table, 3).collect().map(_.getLong(0)) shouldBe Seq(9L)
    // vacuum(0) must not touch the restored head's files (referenced
    // twice — v2 and v4) even though v3's are still referenced by v3
    TxTable.vacuum(spark, table, minAgeMs = 0L) shouldBe empty
    // expiring history down to the restored head keeps its files live
    // (they are referenced by the kept v4 even though NAMED v1_/v2_)
    TxTable.expireVersions(spark, table, keepLast = 1)
    TxTable.read(spark, table).collect().map(_.getLong(0)).sorted shouldBe Seq(1L, 2L, 3L)
    // restoring to an expired version refuses loudly
    val e = intercept[IllegalArgumentException] { TxTable.restore(spark, table, 2) }
    e.getMessage should include("expired")
    // a new append continues normally on top of the restored head
    TxTable.commit(Seq((7L, "g")).toDF("id", "s"), table) shouldBe 5
    TxTable.read(spark, table).collect().map(_.getLong(0)).sorted shouldBe Seq(1L, 2L, 3L, 7L)
  }

  test("mergeInto retries a lost CAS by RE-MERGING against the new head: racing append and merge both land (r8)") {
    val table = freshTable()
    TxTable.commit(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v"), table) shouldBe 1
    val feed = Seq((2L, 99.0, 1L, "U"), (3L, 0.0, 1L, "D"), (5L, 50.0, 1L, "I"))
      .toDF("id", "v", "seq", "op")
    // inject a competing append BETWEEN the merge's read and its
    // publish: the hook fires once, commits extra rows as the next
    // version, then lets the merge's own publish lose the CAS
    @volatile var fired = false
    val hook: graft.sources.TxCommitter = new graft.sources.TxCommitter {
      def publish(f: org.apache.hadoop.fs.FileSystem, mp: org.apache.hadoop.fs.Path,
                  json: String, nonce: String): Boolean = {
        if (!fired) {
          fired = true
          TxTable.committerOverride = None
          try TxTable.commit(Seq((7L, 70.0)).toDF("id", "v"), table)
          finally TxTable.committerOverride = Some(this)
        }
        graft.sources.LocalLinkCommitter.publish(f, mp, json, nonce)
      }
    }
    TxTable.committerOverride = Some(hook)
    val (v, attempts) = try TxTable.mergeInto(spark, table, feed, "id", "seq", "op")
      finally TxTable.committerOverride = None
    // the hook's append won v2; the merge lost, RE-READ the head (now
    // including id=7) and re-merged into v3 — both writers landed
    attempts shouldBe 2
    v shouldBe 3
    TxTable.opOf(spark, table, 2) shouldBe "append"
    TxTable.opOf(spark, table, 3) shouldBe "merge"
    TxTable.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted shouldBe
      Seq((1L, 10.0), (2L, 99.0), (5L, 50.0), (7L, 70.0))
  }

  // --- the manifest codec: any file, column or value string and any
  // stats bound a writer records parses back exactly
  test("renameColumn to a name holding ']' keeps every column of the snapshot") {
    val table = freshTable()
    TxTable.commit(Seq((1L, "a", 2.0)).toDF("id", "s", "x"), table)
    TxTable.renameColumn(spark, table, "s", "s]x")
    val df = TxTable.read(spark, table)
    df.columns.toSeq shouldBe Seq("id", "s]x", "x")
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))) shouldBe
      Array((1L, "a", 2.0))
  }

  test("a bloom on a column whose name holds a quote prunes point lookups") {
    val table = freshTable()
    val k = "k\"q"
    TxTable.commit(Seq((1L, "alpha")).toDF("id", k).coalesce(1), table, bloomCols = Seq(k))
    TxTable.commit(Seq((2L, "beta")).toDF("id", k).coalesce(1), table, bloomCols = Seq(k))
    TxTable.keptFiles(spark, table, 2, col(k).cast("string") === "alpha") shouldBe
      TxTable.filesOf(spark, table, 1)
    TxTable.readWhereKey(spark, table, k, "alpha").collect().map(_.getLong(0)) shouldBe Array(1L)
  }

  test("a zero-padded string partition reads back unchanged before and after an evolve") {
    val table = freshTable()
    TxTable.commit(Seq((1L, "01"), (2L, "10")).toDF("id", "p"), table, partitionBy = Some("p"))
    def parts(): Seq[String] =
      TxTable.read(spark, table).select("p").collect().map(_.getString(0)).sorted.toSeq
    parts() shouldBe Seq("01", "10")
    TxTable.commitEvolve(Seq((3L, "02", 1.5)).toDF("id", "p", "x"), table)
    TxTable.msOf(spark, table, 2) shouldBe true // the mergeSchema read path
    parts() shouldBe Seq("01", "02", "10")
  }

  test("skipping stats with infinite or NaN bounds never prune a file holding a match") {
    val table = freshTable()
    val (inf, ninf) = (Double.PositiveInfinity, Double.NegativeInfinity)
    Seq(Seq((1L, 1.0), (2L, inf)), Seq((3L, ninf), (4L, 0.0)), Seq((5L, Double.NaN), (6L, 5.0)))
      .foreach(rows => TxTable.commit(rows.toDF("id", "x").coalesce(1), table, statsCols = Seq("x")))
    def ids(lo: Double, hi: Double): Seq[Long] =
      TxTable.scan(spark, table, col("x").between(lo, hi)).collect().map(_.getLong(0)).sorted.toSeq
    ids(1e300, inf) shouldBe Seq(2L)
    ids(ninf, -1e300) shouldBe Seq(3L)
    ids(4.0, 6.0) shouldBe Seq(6L)
    // the infinite bounds are recorded, not dropped
    TxTable.statsOf(spark, table, 3).map(e => (e._3, e._4)) should contain allOf ((1.0, inf), (ninf, 0.0))
  }

  test("manifest codec: render then parse is the identity; minimal manifests parse with defaults") {
    import org.scalacheck.{Gen, Prop, Test}
    import graft.sources.{TxDelta, TxIndex, TxManifest}
    def check(p: Prop): Unit = {
      val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(200).withMaxSize(6)
        .withInitialSeed(org.scalacheck.rng.Seed(421L)), p)
      assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
    }
    val piece: Gen[String] = Gen.oneOf(
      Gen.oneOf("\"", "\\", "]", "[", ",", "{", "}", ":", "\u001f", "\\s", "\\q", "data/v1_0.parquet"),
      Gen.alphaNumChar.map(_.toString),
      Gen.choose(0, 0x1f).map(_.toChar.toString), // control characters
      Gen.choose(0x10000, 0x10ffff).map(cp => new String(Character.toChars(cp)))) // non-BMP
    val str: Gen[String] = Gen.listOf(piece).map(_.mkString)
    val bound: Gen[Double] = Gen.oneOf(Gen.choose(-1e300, 1e300),
      Gen.oneOf(Double.PositiveInfinity, Double.NegativeInfinity, Double.MaxValue,
        Double.MinPositiveValue, -0.0, 1e-310))
    val anyLong = Gen.choose(Long.MinValue, Long.MaxValue)
    val manifests: Gen[TxManifest] = for {
      version <- Gen.choose(1, Int.MaxValue)
      op <- str
      commitMs <- Gen.choose(0L, Long.MaxValue)
      txn <- Gen.option(Gen.zip(str, anyLong))
      ms <- Gen.oneOf(true, false)
      part <- Gen.option(str)
      schema <- Gen.option(str)
      delta <- Gen.option(Gen.zip(Gen.choose(1, Int.MaxValue), Gen.listOf(str),
        Gen.choose(0, Int.MaxValue)).map { case (b, rm, n) => TxDelta(b, rm, n) })
      files <- Gen.listOf(str)
      stats <- Gen.listOf(Gen.zip(str, str, bound, bound))
      blooms <- Gen.listOf(Gen.zip(str, str, Gen.choose(0, Int.MaxValue),
        Gen.choose(0, Int.MaxValue), str))
      map <- Gen.option(Gen.listOf(Gen.zip(str, str)))
      vsets <- Gen.listOf(Gen.zip(str, str, Gen.listOf(str)))
      posd <- Gen.listOf(str)
      rows <- Gen.listOf(Gen.zip(str, anyLong))
      index <- Gen.zip(Gen.listOf(str), Gen.listOf(str), Gen.listOf(str), Gen.listOf(str),
        Gen.oneOf(true, false)).map { case (st, nl, bl, vs, rc) => TxIndex(st, nl, bl, vs, rc) }
    } yield TxManifest(version, op, commitMs, txn, ms, part, schema, delta, files, stats,
      blooms, map, vsets, posd, rows, index)
    // through UTF-8 bytes, as the committer writes and the reader reads
    def utf8(s: String): String = new String(s.getBytes("UTF-8"), "UTF-8")
    check(Prop.forAll(manifests)(m => TxManifest.parse(utf8(TxManifest.render(m))) == m))
    check(Prop.forAll(str, Gen.listOf(str)) { (id, files) =>
      TxManifest.parseStaged(utf8(TxManifest.renderStaged(id, files))) == files })
    check(Prop.forAll(Gen.oneOf("tag", "branch"), Gen.choose(1, Int.MaxValue)) { (k, v) =>
      TxManifest.parseRef(TxManifest.renderRef(k, v)).contains((k, v)) })
    TxManifest.parseRef("""{"kind":"other","v":3}""") shouldBe None
    val nan = TxManifest.parse(TxManifest.render(TxManifest(1, "append", files = Seq("f"),
      stats = Seq(("f", "c", Double.NaN, Double.NaN))))).stats.head
    assert(nan._3.isNaN && nan._4.isNaN)
    // the compact layout and top-level keys writers have always produced
    TxManifest.render(TxManifest(2, "append", commitMs = 9L, schema = Some("id BIGINT"),
      files = Seq("data/a.parquet"), stats = Seq(("data/a.parquet", "id", 1.0, 2.0)))) shouldBe
      """{"version":2,"op":"append","commit_ms":9,"schema":"id BIGINT","n_files":1,""" +
      """"files":["data/a.parquet"],"stats":[{"f":"data/a.parquet","c":"id","lo":1.0,"hi":2.0}]}"""
    // the hand-written manifests the race specs publish
    TxManifest.parse("""{"version":2,"op":"append","n_files":0,"files":[]}""") shouldBe
      TxManifest(2, "append")
    TxManifest.parse("""{"version":2,"op":"append","commit_ms":9,"txn":{"app":"app","batch":1},""" +
      """"n_files":0,"files":[]}""") shouldBe
      TxManifest(2, "append", commitMs = 9L, txn = Some(("app", 1L)))
  }

  test("a probe no file can match reads as an empty frame with the snapshot's columns, planned over at most one file") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def plannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case r: LogicalRelation => r.relation }
        .collect { case h: HadoopFsRelation => h.location.rootPaths.size }.sum
    val flat = freshTable()
    (0 until 3).foreach { i =>
      TxTable.commit(Seq((10L * i + 1, s"c$i", Some(i + 0.5)), (10L * i + 2, s"c$i", Some(i + 1.5)))
        .toDF("id", "cat", "x").coalesce(1), flat, statsCols = Seq("id"), bloomCols = Seq("id"),
        setCols = Seq("cat"), nullCols = Seq("x"), countRows = true)
    }
    TxTable.renameColumn(spark, flat, "cat", "kind") shouldBe 4
    TxTable.keptFiles(spark, flat, 4, col("id").cast("string") === "99") shouldBe empty
    val part = freshTable()
    TxTable.commit(Seq((1L, "A", 1.0), (2L, "B", 2.0), (3L, "a:b", 3.0)).toDF("id", "cat", "price"),
      part, partitionBy = Some("cat"), statsCols = Seq("id"))
    // an escaped directory name still matches its value
    TxTable.scan(spark, part, col("cat") === "a:b").select("id").collect().map(_.getLong(0)) shouldBe Array(3L)
    Seq(
      ("value", flat, TxTable.scan(spark, flat, col("kind") === "c9")),
      ("key", flat, TxTable.readWhereKey(spark, flat, "id", "99")),
      ("range", flat, TxTable.scan(spark, flat, col("id").between(500.0, 600.0))),
      ("null", flat, TxTable.scan(spark, flat, col("x").isNull)),
      ("partition", part, TxTable.scan(spark, part, col("cat") === "Z")),
      ("partitioned range", part, TxTable.scan(spark, part, col("id").between(500.0, 600.0)))
    ).foreach { case (probe, table, df) =>
      withClue(s"$probe probe: ") {
        val snapshot = TxTable.read(spark, table)
        df.dtypes.toSeq shouldBe snapshot.dtypes.toSeq
        df.count() shouldBe 0L
        df.inputFiles.size should be <= 1
        plannedFiles(df) shouldBe 1
        plannedFiles(snapshot) shouldBe 3
      }
    }
  }

  test("a conjunctive predicate prunes by every stat kind it names; an unknown conjunct never removes a file") {
    val table = freshTable()
    Seq(("x", true), ("x", false), ("y", true), ("y", false)).zipWithIndex.foreach {
      case ((k, withNull), i) =>
        TxTable.commit(Seq((2L * i, k, if (withNull) None else Some(1.0)), (2L * i + 1, k, Some(2.0)))
          .toDF("id", "k", "v").coalesce(1), table, setCols = Seq("k"), nullCols = Seq("v"),
          countRows = true)
    }
    val files = TxTable.filesOf(spark, table, 4)
    val byValue = TxTable.keptFiles(spark, table, 4, col("k") === "x")
    val byNull = TxTable.keptFiles(spark, table, 4, col("v").isNull)
    byValue shouldBe Seq(files(0), files(1))
    byNull shouldBe Seq(files(0), files(2))
    val both = col("k") === "x" && col("v").isNull
    TxTable.keptFiles(spark, table, 4, both) shouldBe byValue.intersect(byNull)
    TxTable.scan(spark, table, both).select("id").collect().map(_.getLong(0)) shouldBe Array(0L)
    val nonEmpty = udf((s: String) => s.nonEmpty)
    Seq(col("id") === 0L || col("id") === 7L, nonEmpty(col("k")), col("k").isin("x", "y"))
      .foreach { unknown =>
        withClue(s"$unknown: ") {
          TxTable.keptFiles(spark, table, 4, unknown) shouldBe files
          TxTable.keptFiles(spark, table, 4, col("k") === "x" && unknown) shouldBe byValue
          TxTable.keptFiles(spark, table, 4, unknown && col("v").isNull) shouldBe byNull
          val pred = unknown && both
          TxTable.scan(spark, table, pred).count() shouldBe
            TxTable.read(spark, table).filter(pred).count()
        }
      }
  }

  test("IN and OR prune by every stat kind; an unknown OR branch keeps every file; scan equals the full filter") {
    val table = freshTable()
    // file i: ids 10i..10i+9, one category, a bloomed per-row tag, NULL v on even ids of files 0 and 2
    (0 until 4).foreach { i =>
      TxTable.commit((10L * i until 10L * i + 10).map(id =>
          (id, Seq("a", "b", "c", "d")(i), s"t$id", if (i % 2 == 0 && id % 2 == 0) None else Some(1.0)))
        .toDF("id", "k", "tag", "v").coalesce(1), table, statsCols = Seq("id"), setCols = Seq("k"),
        bloomCols = Seq("tag"), nullCols = Seq("v"), countRows = true)
    }
    val files = TxTable.filesOf(spark, table, 4)
    val nonEmpty = udf((s: String) => s.nonEmpty)
    Seq(
      col("k").isin("a", "c") -> Seq(0, 2),             // value sets
      col("tag").isin("t5", "t33") -> Seq(0, 3),        // blooms
      col("id").isin(3L, 25L) -> Seq(0, 2),             // min/max
      (col("id") === 15L) -> Seq(1),                    // min/max, one probe
      (col("k") === "b" || col("v").isNull) -> Seq(0, 1, 2), // value set OR null count
      (col("k") === "a" || nonEmpty(col("k"))) -> Seq(0, 1, 2, 3)
    ).foreach { case (pred, want) =>
      withClue(s"$pred: ") {
        TxTable.keptFiles(spark, table, 4, pred) shouldBe want.map(files)
        TxTable.scan(spark, table, pred).select("id").collect().map(_.getLong(0)).sorted shouldBe
          TxTable.read(spark, table).filter(pred).select("id").collect().map(_.getLong(0)).sorted
      }
    }
  }

  /** Runs `write` with every data file of `table` outside `kept` moved
    * aside, so a writer that opens one fails.
    */
  private def withOnly[T](table: String, kept: Seq[String])(write: => T): T = {
    import java.nio.file.{Files, Path, Paths}
    def aside(p: Path): Path = p.resolveSibling(p.getFileName.toString + ".aside")
    val away = TxTable.filesOf(spark, table, TxTable.currentVersion(spark, table))
      .filterNot(kept.toSet).map(rel => Paths.get(s"$table/$rel"))
    away.foreach(p => Files.move(p, aside(p)))
    try write finally away.foreach(p => Files.move(aside(p), p))
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("the predicate writers delete and update by k = 'x' and by v IS NULL, touching only the files keptFiles keeps") {
    def seed(): String = {
      val table = freshTable()
      Seq(Seq((0L, Some("x"), None), (1L, None, Some(1.0))),
          Seq((2L, Some("x"), Some(2.0)), (3L, Some("x"), Some(3.0))),
          Seq((4L, Some("y"), None), (5L, None, Some(5.0))),
          Seq((6L, Some("y"), Some(6.0)), (7L, Some("y"), Some(7.0)))).foreach { rows =>
        TxTable.commit(rows.toDF("id", "k", "v").coalesce(1), table, setCols = Seq("k"),
          bloomCols = Seq("k"), nullCols = Seq("v"), countRows = true)
      }
      table
    }
    // (predicate, rows it leaves undecided: the NULL-k rows for k = 'x')
    Seq((col("k") === "x") -> 2, col("v").isNull -> 0).foreach { case (pred, nUndecided) =>
      val hit = coalesce(pred, lit(false))
      Seq[(String, String => Any, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        ("deleteWhere", TxTable.deleteWhere(spark, _, pred), _.filter(!hit)),
        ("updateWhere", TxTable.updateWhere(spark, _, pred, Map("v" -> lit(-1.0))),
          _.withColumn("v", when(hit, lit(-1.0)).otherwise(col("v")))),
        ("deleteWherePos", TxTable.deleteWherePos(spark, _, pred), _.filter(!hit))
      ).foreach { case (writer, write, reference) =>
        withClue(s"$writer by $pred: ") {
          val table = seed()
          val all = TxTable.filesOf(spark, table, 4)
          val kept = TxTable.keptFiles(spark, table, 4, pred)
          kept.size should be < all.size
          val before = TxTable.read(spark, table)
          val want = sortedRows(reference(before))
          val undecided = sortedRows(before.filter(pred.isNull))
          withOnly(table, kept)(write(table))
          TxTable.currentVersion(spark, table) shouldBe 5
          val touched =
            if (writer == "deleteWherePos") spark.read
              .parquet(TxTable.posDeletesOf(spark, table, 5).map(rel => s"$table/$rel"): _*)
              .select("_gf").distinct().collect().map(_.getString(0)).sorted.toSeq
            else all.diff(TxTable.filesOf(spark, table, 5)).map(_.split('/').last)
          touched shouldBe kept.map(_.split('/').last).sorted
          sortedRows(TxTable.read(spark, table)) shouldBe want
          // rows where the predicate is NULL are kept, unchanged
          sortedRows(TxTable.read(spark, table).filter(pred.isNull)) shouldBe undecided
          undecided.size shouldBe nUndecided
        }
      }
    }
  }

  test("the predicate writers take logical names on a column-mapped and on an identity-partitioned table") {
    val mapped = freshTable()
    Seq(Seq((1L, "x", Some(1.0)), (2L, "y", None)), Seq((3L, "y", Some(3.0)), (4L, "y", Some(4.0))))
      .foreach(rows => TxTable.commit(rows.toDF("id", "k", "v").coalesce(1), mapped,
        statsCols = Seq("id"), setCols = Seq("k"), nullCols = Seq("v"), countRows = true))
    // logical 'kind' is physical k, and logical 'k' is physical v
    TxTable.renameColumn(spark, mapped, "k", "kind") shouldBe 3
    TxTable.renameColumn(spark, mapped, "v", "k") shouldBe 4
    TxTable.keptFiles(spark, mapped, 4, col("kind") === "x").size shouldBe 1
    TxTable.keptFiles(spark, mapped, 4, col("k").isNull).size shouldBe 1
    TxTable.deleteWherePos(spark, mapped, col("k").isNull) shouldBe ((5, 1L))
    TxTable.updateWhere(spark, mapped, col("kind") === "y", Map("k" -> col("k") * 10)) shouldBe ((6, 2, 0))
    val keptX = TxTable.keptFiles(spark, mapped, 6, col("kind") === "x")
    TxTable.deleteWhere(spark, mapped, col("kind") === "x")._2 shouldBe keptX.size
    TxTable.read(spark, mapped).columns.toSeq shouldBe Seq("id", "kind", "k")
    sortedRows(TxTable.read(spark, mapped)) shouldBe Seq("[3,y,30.0]", "[4,y,40.0]")

    val part = freshTable()
    TxTable.commit(Seq((1L, "eu", 1.0), (2L, "eu", 2.0), (3L, "us", 3.0), (4L, "us", 4.0), (5L, "ap", 5.0))
      .toDF("id", "region", "x").coalesce(1), part, partitionBy = Some("region"), statsCols = Seq("id"))
    TxTable.filesOf(spark, part, 1).size shouldBe 3
    TxTable.deleteWhere(spark, part, col("region") === "eu" && col("id") === 2L) shouldBe ((2, 1, 2))
    // every assignment reads the row as it was before the update
    TxTable.updateWhere(spark, part, col("region") === "us",
      Map("id" -> col("id") * 10, "x" -> (col("x") + col("id") + 100))) shouldBe ((3, 1, 2))
    TxTable.deleteWherePos(spark, part, col("region").isin("ap")) shouldBe ((4, 1L))
    TxTable.read(spark, part).columns.toSeq shouldBe Seq("id", "region", "x")
    sortedRows(TxTable.read(spark, part)) shouldBe Seq("[1,eu,1.0]", "[30,us,106.0]", "[40,us,108.0]")
  }

  test("a writer predicate naming a missing column fails with Spark's AnalysisException before anything is written") {
    val table = freshTable()
    TxTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1), table, statsCols = Seq("id"))
    // 's' stays the physical name, but no logical column is called that any more
    TxTable.renameColumn(spark, table, "s", "label") shouldBe 2
    import scala.jdk.CollectionConverters._
    def dataFiles: Seq[String] = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$table/data"))
      .iterator().asScala.map(_.toString).toSeq.sorted
    val files0 = dataFiles
    Seq[() => Any](
      () => TxTable.deleteWhere(spark, table, col("s") === "a"),
      () => TxTable.updateWhere(spark, table, col("nope") === 1, Map("id" -> lit(0L))),
      () => TxTable.updateWhere(spark, table, col("id") === 1L, Map("label" -> upper(col("s")))),
      () => TxTable.deleteWherePos(spark, table, col("nope").isNull),
      () => TxTable.compact(spark, table, col("s") === "a")
    ).foreach { write =>
      val e = intercept[org.apache.spark.sql.AnalysisException](write())
      e.getCondition should startWith("UNRESOLVED_COLUMN")
      TxTable.currentVersion(spark, table) shouldBe 2
      dataFiles shouldBe files0
    }
  }

  test("a range on a decimal column, whose footer stats are unscaled, never skips a file") {
    val table = freshTable()
    Seq("12.34", "56.78").foreach(d => TxTable.commit(Seq((1L, d)).toDF("id", "d")
      .select(col("id"), col("d").cast("decimal(7,2)").as("d")).coalesce(1), table,
      statsCols = Seq("d")))
    TxTable.keptFiles(spark, table, 2, col("d").between(12.0, 13.0)).size shouldBe 2
    TxTable.deleteWhere(spark, table, col("d").between(12.0, 13.0))._2 shouldBe 2
    TxTable.read(spark, table).select(col("d").cast("string")).collect().map(_.getString(0)) shouldBe
      Array("56.78")
  }

  test("decimal columns record no min/max; other declared stats columns still do") {
    val table = freshTable()
    Seq("12.34", "56.78").foreach(d => TxTable.commit(Seq((1L, d)).toDF("id", "d")
      .select(col("id"), col("d").cast("decimal(7,2)").as("d")).coalesce(1), table,
      statsCols = Seq("d", "id")))
    TxTable.statsOf(spark, table, 2).map(_._2).distinct shouldBe Seq("id")
  }

  test("every writer gives the files it adds the skipping entries the table declared") {
    import graft.sources.TxManifest
    // the entry kinds each head file carries, per declared column
    def kinds(snap: TxManifest, f: String, range: String, bloom: String, set: String,
              nul: String): Set[String] = Map(
      "range" -> snap.stats.exists(e => e._1 == f && e._2 == range),
      "nulls" -> snap.stats.exists(e => e._1 == f && e._2 == s"$nul#nulls"),
      "rows" -> snap.rows.exists(_._1 == f),
      "bloom" -> snap.blooms.exists(e => e._1 == f && e._2 == bloom),
      "vset" -> snap.vsets.exists(e => e._1 == f && e._2 == set)).collect { case (k, true) => k }.toSet
    val all = Set("range", "nulls", "rows", "bloom", "vset")
    def indexed(table: String, writer: String, range: String, bloom: String, set: String,
                nul: String): Unit = {
      val v = TxTable.currentVersion(spark, table)
      val snap = TxTable.snapshotOf(spark, table, v)
      withClue(s"after $writer (v$v): ") {
        snap.files should not be empty
        snap.files.map(f => f -> kinds(snap, f, range, bloom, set, nul)) shouldBe
          snap.files.map(_ -> all)
      }
    }
    def rows(ids: Seq[Long]) = ids.map(i => (i, i % 3, if (i % 4 == 0) None else Some(i * 1.5)))
      .toDF("event_id", "user_id", "value").coalesce(1)
    val flat = freshTable()
    def check(writer: String): Unit = indexed(flat, writer, "event_id", "event_id", "user_id", "value")
    TxTable.commit(rows(1L to 4L), flat, statsCols = Seq("event_id"), bloomCols = Seq("event_id"),
      setCols = Seq("user_id"), nullCols = Seq("value"), countRows = true)
    check("commit")
    TxTable.commit(rows(5L to 6L), flat)
    check("append")
    TxTable.commit(rows(1L to 8L), flat, op = "overwrite")
    check("overwrite")
    TxTable.appendUnique(rows(9L to 10L), flat, "event_id")
    check("appendUnique")
    TxTable.commitIdempotent(rows(11L to 12L), flat, "app", 0L)
    check("commitIdempotent")
    TxTable.commitChecked(rows(13L to 14L), flat, Seq(graft.functions.Quality.NonNegative("event_id")))
    check("commitChecked")
    TxTable.stageWap(rows(15L to 16L), flat, "w")
    TxTable.publishWap(spark, flat, "w")
    check("publishWap")
    TxTable.commitSlices(rows(17L to 20L), flat, col("event_id") % 2, 2)
    check("commitSlices")
    val events = java.nio.file.Files.createTempDirectory("graft_tx_spec_events_").toString + "/in"
    rows(21L to 24L).withColumn("ts", timestamp_micros(col("event_id"))).write.parquet(events)
    graft.streaming.Events.streamIntoTx(spark, events, flat, "ingest", runs = 1)
    check("streaming ingest")
    TxTable.mergeInto(spark, flat, Seq((5L, 1L, "U", 0L, 50.0), (30L, 1L, "I", 1L, 3.0))
      .toDF("event_id", "seq", "op", "user_id", "value"), "event_id", "seq", "op")
    check("mergeInto")
    TxTable.commit(rows(31L to 32L), flat)
    TxTable.deleteWhere(spark, flat, col("event_id").between(31.0, 31.0))._2 shouldBe 1
    check("deleteWhere")
    TxTable.updateWhere(spark, flat, col("event_id").between(32.0, 32.0),
      Map("value" -> lit(1.0)))._2 shouldBe 1
    check("updateWhere")
    TxTable.compact(spark, flat, minBytes = 1L << 30)._2 should be >= 2
    check("compactSmall")
    TxTable.commit(rows(40L to 41L), flat)
    TxTable.compact(spark, flat)
    check("compact")
    TxTable.commitEvolve(rows(100L to 101L).withColumn("note", lit("n")), flat)
    check("commitEvolve")
    // a rename keeps the declaration (physical names): pruning works
    // under the new name, and files added after it carry every entry
    TxTable.renameColumn(spark, flat, "event_id", "key")
    val v = TxTable.currentVersion(spark, flat)
    val files = TxTable.filesOf(spark, flat, v)
    files.size shouldBe 2
    TxTable.keptFiles(spark, flat, v, col("key").between(100.0, 101.0)) shouldBe files.takeRight(1)
    TxTable.keptFiles(spark, flat, v, col("key").cast("string") === "100") shouldBe files.takeRight(1)
    TxTable.readWhereKey(spark, flat, "key", "100").count() shouldBe 1L
    TxTable.commit(rows(200L to 201L).withColumnRenamed("event_id", "key").withColumn("note", lit("n")),
      flat)
    check("append after rename")
    // a drop removes the column from the declaration; the next append,
    // whose files no longer hold it, succeeds and carries the rest
    TxTable.dropColumn(spark, flat, "user_id")
    TxTable.snapshotOf(spark, flat, TxTable.currentVersion(spark, flat)).index.sets shouldBe empty
    TxTable.commit(rows(300L to 301L).drop("user_id").withColumnRenamed("event_id", "key")
      .withColumn("note", lit("n")), flat)
    val head = TxTable.snapshotOf(spark, flat, TxTable.currentVersion(spark, flat))
    kinds(head, head.files.last, "event_id", "event_id", "user_id", "value") shouldBe all - "vset"
    TxTable.read(spark, flat).count() shouldBe TxTable.metaCount(spark, flat)
    // the partition-replacing writers, on a partitioned table
    val part = freshTable()
    def prows(p: String, ids: Seq[Long]) =
      ids.map(i => (i, p, s"s${i % 2}", if (i % 4 == 0) None else Some(1.0)))
        .toDF("id", "p", "s", "x").coalesce(1)
    def pcheck(writer: String): Unit = indexed(part, writer, "id", "id", "s", "x")
    TxTable.commit(prows("a", 1L to 4L).union(prows("b", 5L to 8L)), part, partitionBy = Some("p"),
      statsCols = Seq("id"), bloomCols = Seq("id"), setCols = Seq("s"), nullCols = Seq("x"),
      countRows = true)
    pcheck("partitioned commit")
    TxTable.overwritePartition(spark, part, prows("a", 9L to 12L), "a")
    pcheck("overwritePartition")
    TxTable.commit(prows("b", 13L to 14L), part)
    TxTable.compact(spark, part, col("p") === "b")._2 shouldBe 2
    pcheck("compactPartition")
    TxTable.keptFiles(spark, part, TxTable.currentVersion(spark, part),
      col("id").cast("string") === "13").size shouldBe 1
  }

  test("overwritePartition replaces one partition atomically and refuses stray rows") {
    val table = freshTable()
    val df = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("id", "p", "x")
    TxTable.commit(df, table, partitionBy = Some("p"))
    val v2 = TxTable.overwritePartition(spark, table,
      Seq((9L, "a", 90.0)).toDF("id", "p", "x"), "a")
    v2 shouldBe 2
    TxTable.read(spark, table).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("x"))).sorted shouldBe
      Seq((3L, 30.0), (9L, 90.0))
    // partition b's file carried by reference
    TxTable.filesOf(spark, table, 2)
      .count(TxTable.filesOf(spark, table, 1).contains) shouldBe 1
    // a row outside the partition refuses BEFORE committing
    val ex = intercept[Exception] {
      TxTable.overwritePartition(spark, table,
        Seq((7L, "b", 70.0)).toDF("id", "p", "x"), "a")
    }
    ex.getMessage should include("violate")
    TxTable.currentVersion(spark, table) shouldBe 2
    // time travel still sees the pre-replace partition
    TxTable.readVersion(spark, table, 1).count() shouldBe 3L
  }

  test("overwritePartition refuses unpartitioned and hidden-transform layouts") {
    val flat = freshTable()
    TxTable.commit(Seq((1L, "a", 1.0)).toDF("id", "p", "x"), flat)
    val ex = intercept[Exception] {
      TxTable.overwritePartition(spark, flat,
        Seq((1L, "a", 1.0)).toDF("id", "p", "x"), "a")
    }
    ex.getMessage should include("not hive-partitioned")
  }

  test("a bucket16 layout is a keptFiles atom: point reads and the key writers touch only the probe's bucket") {
    val table = freshTable()
    TxTable.commit((1L to 400L).map(i => (i, i * 1.0)).toDF("id", "x").repartition(2), table,
      partitionBy = Some("_gpt-bucket16-id"))
    val files = TxTable.filesOf(spark, table, 1)
    def bucket(key: Long) = TxTable.hiddenValueOf("_gpt-bucket16-id", key.toString)
    def bucketOf(fs: Seq[String], key: Long) =
      fs.filter(_.startsWith(s"data/_gpt-bucket16-id=${bucket(key)}/"))
    val mine = bucketOf(files, 137L)
    mine should not be empty
    mine.size should be < files.size
    val key = col("id").cast("string") === "137"
    TxTable.keptFiles(spark, table, 1, key) shouldBe mine
    TxTable.keptFiles(spark, table, 1, col("id").cast("string").isin("137", "9")) shouldBe
      files.filter((mine ++ bucketOf(files, 9L)).toSet)
    // a numeric comparison is not a string-form probe: no bucket pruning
    TxTable.keptFiles(spark, table, 1, col("id") === 137L) shouldBe files
    // copy-on-write delete by the key rewrites the bucket's files only
    TxTable.deleteWhere(spark, table, key) shouldBe ((2, mine.size, files.size - mine.size))
    TxTable.read(spark, table).count() shouldBe 399L
    // the key-set writers read one bucket only: every other file is
    // moved away while they run, so a read of one would fail
    val head = TxTable.filesOf(spark, table, 2)
    val others = head.diff(bucketOf(head, 138L))
    others should not be empty
    val present = (1L to 400L).find(k => k > 138L && bucket(k) == bucket(138L)).get
    val fresh = (1000L to 2000L).find(k => bucket(k) == bucket(138L)).get
    def away(rel: String, back: Boolean): Unit = {
      val (at, aside) = (java.nio.file.Paths.get(s"$table/$rel"),
        java.nio.file.Paths.get(s"$table/$rel.away"))
      if (back) java.nio.file.Files.move(aside, at) else java.nio.file.Files.move(at, aside)
    }
    others.foreach(away(_, back = false))
    try {
      TxTable.deleteKeysMor(spark, table, "id", Seq(138L).toDF("id")) shouldBe ((3, 1L))
      TxTable.appendUnique(Seq((present, 0.0), (fresh, 1.0)).toDF("id", "x"), table, "id") shouldBe
        ((4, 1L))
    } finally others.foreach(away(_, back = true))
    TxTable.read(spark, table).count() shouldBe 399L
    TxTable.scan(spark, table, col("id").cast("string") === fresh.toString).count() shouldBe 1L
  }

  test("a bucket layout of a TIMESTAMP column prunes nothing: its directories hashed a zone-dependent string") {
    val table = freshTable()
    TxTable.commit((1L to 64L).toDF("k").withColumn("ts", timestamp_seconds(col("k") * 3600L))
      .repartition(2), table, partitionBy = Some("_gpt-bucket16-ts"))
    val files = TxTable.filesOf(spark, table, 1)
    val probe = col("ts").cast("string") === "1970-01-01 07:00:00"
    TxTable.keptFiles(spark, table, 1, probe) shouldBe files
    // the same instant rendered under another session zone still finds its row
    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try {
      TxTable.scan(spark, table, col("ts").cast("string") === "1970-01-01 12:30:00")
        .select("k").collect().map(_.getLong(0)) shouldBe Array(7L)
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }

  test("compact materializes borrowed files even when it selects only one") {
    val src = freshTable()
    val dst = freshTable()
    TxTable.commit((1L to 20L).toDF("id").coalesce(1), src)
    TxTable.cloneShallow(spark, src, dst)
    TxTable.compact(spark, dst) shouldBe ((2, 1, 0))
    TxTable.filesOf(spark, dst, 2).foreach(f => assert(!f.startsWith("/")))
    TxTable.read(spark, dst).count() shouldBe 20L
    // one borrowed file selected by `where`, one carried
    val src2 = freshTable()
    val dst2 = freshTable()
    Seq(1L, 100L).foreach(i =>
      TxTable.commit((i to i + 9L).toDF("id").coalesce(1), src2, statsCols = Seq("id")))
    TxTable.cloneShallow(spark, src2, dst2)
    TxTable.compact(spark, dst2, col("id") < 50L) shouldBe ((2, 1, 1))
    TxTable.filesOf(spark, dst2, 2).count(_.startsWith("/")) shouldBe 1
    TxTable.read(spark, dst2).count() shouldBe 20L
  }

  test("compact(where) on a stats-declared table rewrites only the kept files and carries the rest with their stats") {
    val table = freshTable()
    (0 until 4).foreach { i =>
      TxTable.commit((1L to 50L).map(k => (100L * i + k, s"s$k")).toDF("id", "s").coalesce(1),
        table, statsCols = Seq("id"), countRows = true)
    }
    val files = TxTable.filesOf(spark, table, 4)
    val stats4 = TxTable.statsOf(spark, table, 4)
    val (v, nRw, nCar) = TxTable.compact(spark, table, where = col("id").between(1.0, 150.0))
    (v, nRw, nCar) shouldBe ((5, 2, 2))
    val after = TxTable.filesOf(spark, table, 5)
    after.intersect(files) shouldBe files.drop(2)
    // the carried files keep their entries verbatim; the rebinned ones get the declared stats
    TxTable.statsOf(spark, table, 5).filter(e => files.drop(2).contains(e._1)).toSet shouldBe
      stats4.filter(e => files.drop(2).contains(e._1)).toSet
    after.diff(files).foreach(f => TxTable.statsOf(spark, table, 5).exists(_._1 == f) shouldBe true)
    TxTable.keptFiles(spark, table, 5, col("id").between(1.0, 150.0)) shouldBe after.diff(files)
    TxTable.changes(spark, table, 4, 5).count() shouldBe 0L
    TxTable.readVersion(spark, table, 5).collect().map(_.getLong(0)).sorted shouldBe
      TxTable.readVersion(spark, table, 4).collect().map(_.getLong(0)).sorted
    // one selected file without a deletion vector: a no-op
    TxTable.compact(spark, table, where = col("id").between(201.0, 250.0)) shouldBe ((5, 0, 3))
    // one selected file with a deletion vector: rewritten, the deleted row stays deleted
    TxTable.deleteWherePos(spark, table, col("id").between(301.0, 301.0)) shouldBe ((6, 1L))
    val (v7, n7, c7) = TxTable.compact(spark, table, where = col("id").between(301.0, 350.0))
    (v7, n7, c7) shouldBe ((7, 1, 2))
    TxTable.read(spark, table).count() shouldBe 199L
    TxTable.metaCount(spark, table) shouldBe 199L
  }

  test("null-count skipping is conservative: untracked and mixed files always kept") {
    val table = freshTable()
    // v1: UNTRACKED (committed before nullCols is declared) — must stay
    // a candidate for both; v2: tracked, no nulls; v3: tracked, all
    // null; v4: tracked, mixed
    TxTable.commit(Seq((5L, Some(5.0))).toDF("id", "x").coalesce(1), table)
    TxTable.commit(Seq((1L, Some(1.0))).toDF("id", "x").coalesce(1), table,
      nullCols = Seq("x"), countRows = true)
    TxTable.commit(Seq((2L, None: Option[Double])).toDF("id", "x").coalesce(1),
      table, nullCols = Seq("x"), countRows = true)
    TxTable.commit(Seq((3L, Some(3.0)), (4L, None)).toDF("id", "x").coalesce(1),
      table, nullCols = Seq("x"), countRows = true)
    val v = TxTable.currentVersion(spark, table)
    TxTable.keptFiles(spark, table, v, col("x").isNull).size shouldBe 3 // v1,v3,v4
    TxTable.keptFiles(spark, table, v, col("x").isNotNull).size shouldBe 3 // v1,v2,v4
    TxTable.scan(spark, table, col("x").isNull).select("id").collect()
      .map(_.getLong(0)).sorted shouldBe Seq(2L, 4L)
    TxTable.scan(spark, table, col("x").isNotNull).select("id").collect()
      .map(_.getLong(0)).sorted shouldBe Seq(1L, 3L, 5L)
  }

  test("null counts carry through compaction-free ops and survive clone") {
    val table = freshTable()
    TxTable.commit(Seq((1L, None: Option[Double])).toDF("id", "x").coalesce(1),
      table, nullCols = Seq("x"), countRows = true)
    TxTable.commit(Seq((2L, Some(2.0))).toDF("id", "x").coalesce(1), table,
      nullCols = Seq("x"), countRows = true)
    val clone = freshTable()
    TxTable.cloneShallow(spark, table, clone)
    // the clone's borrowed files keep their null stats → same pruning
    TxTable.keptFiles(spark, clone, 1, col("x").isNull).size shouldBe 1
    TxTable.scan(spark, clone, col("x").isNotNull).count() shouldBe 1L
  }

  // --- merge-on-read deletes: every MoR delete records (file, row
  // ordinal) deletion vectors, whether it is addressed by a range
  // (deleteWherePos) or by a key set (deleteKeysMor).

  test("merge-on-read delete: zero data files rewritten, read hash-equals copy-on-write, OPTIMIZE folds the tombstones") {
    val morT = freshTable()
    val cowT = freshTable()
    val rows = (1L to 400L).map(i => (i, i * 1.5, s"s$i"))
    // 4-file layout, range-clustered on id so the delete prunes
    val df = rows.toDF("id", "x", "s").repartitionByRange(4, col("id"))
    TxTable.commit(df, morT, statsCols = Seq("id")) shouldBe 1
    TxTable.commit(df, cowT, statsCols = Seq("id")) shouldBe 1
    val filesBefore = TxTable.filesOf(spark, morT, 1)
    // MoR delete of a point range; CoW of the same range on the twin
    val (v2, nDel) = TxTable.deleteWherePos(spark, morT, col("id").between(100.0, 140.0))
    v2 shouldBe 2
    nDel shouldBe 41L
    TxTable.deleteWhere(spark, cowT, col("id").between(100.0, 140.0))._1 shouldBe 2
    // ZERO data files rewritten: the manifest carries v1's files verbatim
    TxTable.filesOf(spark, morT, 2) shouldBe filesBefore
    TxTable.posDeletesOf(spark, morT, 2) should not be empty
    TxTable.opOf(spark, morT, 2) shouldBe "posdelete"
    // the MoR read equals the CoW result exactly
    canon(TxTable.read(spark, morT)) shouldBe canon(TxTable.read(spark, cowT))
    // snapshot isolation: v1 still sees every row
    TxTable.readVersion(spark, morT, 1).count() shouldBe 400L
    // pruned readers go through the deletion vectors too
    TxTable.scan(spark, morT, col("id").between(90.0, 150.0))
      .collect().map(_.getLong(0)).sorted shouldBe ((90L to 99L) ++ (141L to 150L))
    // a second MoR delete stacks; already-deleted rows are NOT re-recorded
    val (v3, nDel2) = TxTable.deleteWherePos(spark, morT, col("id").between(120.0, 160.0))
    v3 shouldBe 3
    nDel2 shouldBe 20L // 141..160 — 120..140 were already deleted
    TxTable.read(spark, morT).count() shouldBe 400L - 61L
    // changes() reads the MoR delete as deletes of exactly those rows,
    // touching only the files the deletion vectors reference
    val delta = TxTable.changes(spark, morT, 2, 3)
    delta.select("_change").distinct().collect().map(_.getString(0)) shouldBe Array("delete")
    delta.select("id").collect().map(_.getLong(0)).sorted shouldBe (141L to 160L)
    // appends AFTER the delete are unaffected (per-file scope, not a blocklist)
    TxTable.commit(Seq((130L, 1.0, "again")).toDF("id", "x", "s"), morT,
      statsCols = Seq("id")) shouldBe 4
    TxTable.read(spark, morT).filter(col("id") === 130L).count() shouldBe 1L
    // OPTIMIZE folds the deletion vectors away: content identical, sidecars gone
    val before = canon(TxTable.read(spark, morT))
    val v5 = TxTable.compact(spark, morT)._1
    TxTable.posDeletesOf(spark, morT, v5) shouldBe empty
    canon(TxTable.read(spark, morT)) shouldBe before
    // vacuum never reclaims a LIVE sidecar; expiry reclaims dead ones
    TxTable.vacuum(spark, morT, 0L)
    TxTable.readVersion(spark, morT, 3).count() shouldBe 400L - 61L
    val (expired, dead) = TxTable.expireVersions(spark, morT, 1)
    expired shouldBe (1 to 4)
    dead.exists(_.contains("_p")) shouldBe true // sidecars reclaimed with history
    canon(TxTable.read(spark, morT)) shouldBe before
  }

  test("drop the matched-on column right after a MoR delete, and the deleted rows stay deleted") {
    val table = freshTable()
    TxTable.commit(Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c"))
      .toDF("id", "x", "s"), table, statsCols = Seq("x")) shouldBe 1
    // key-set delete matched on id, then id dropped with no compaction
    TxTable.deleteKeysMor(spark, table, "id", Seq(2L).toDF("id"))._2 shouldBe 1L
    TxTable.dropColumn(spark, table, "id") shouldBe 3
    TxTable.read(spark, table).columns shouldBe Array("x", "s")
    canon(TxTable.read(spark, table)) shouldBe
      canon(Seq((10.0, "a"), (30.0, "c")).toDF("x", "s"))
    // range delete matched on x, then x dropped the same way
    TxTable.deleteWherePos(spark, table, col("x").between(25.0, 35.0))._2 shouldBe 1L
    TxTable.dropColumn(spark, table, "x") shouldBe 5
    canon(TxTable.read(spark, table)) shouldBe canon(Seq("a").toDF("s"))
    // time travel still sees the pre-delete rows under their old columns
    TxTable.readVersion(spark, table, 1).count() shouldBe 3L
  }

  test("the NULL-keyed matched row is deleted, exactly as copy-on-write deleteWhere does; MoR delete no-ops when stats prune everything") {
    val table = freshTable()
    val cowT = freshTable()
    val df = Seq((Some(1L), 10.0), (None, 20.0), (Some(3L), 30.0))
      .toDF("id", "x")
    TxTable.commit(df, table, statsCols = Seq("x")) shouldBe 1
    TxTable.commit(df, cowT, statsCols = Seq("x")) shouldBe 1
    // a range outside every file's stats is a no-op at the current version
    TxTable.deleteWherePos(spark, table, col("x").between(1e6, 2e6)) shouldBe ((1, 0L))
    TxTable.currentVersion(spark, table) shouldBe 1
    // the matched range covers the NULL-keyed row: it is deleted
    TxTable.deleteWherePos(spark, table, col("x").between(15.0, 25.0)) shouldBe ((2, 1L))
    TxTable.deleteWhere(spark, cowT, col("x").between(15.0, 25.0))._1 shouldBe 2
    canon(TxTable.read(spark, table)) shouldBe canon(TxTable.read(spark, cowT))
    TxTable.read(spark, table).collect().map(_.getLong(0)).sorted shouldBe Array(1L, 3L)
  }

  // Positional deletion vectors: the (file, row ordinal) sidecar form.
  // Result-equal to copy-on-write on the same inputs, zero files
  // rewritten, schema-independent (no key column), CDC replays the
  // delete, OPTIMIZE folds the vectors.
  test("positional deletion vectors: equal to copy-on-write, zero rewrite, CDC + fold") {
    import org.apache.spark.sql.functions.{col => c}
    val cowT = freshTable()
    val posT = freshTable()
    val df = (1L to 100L).map(i => (i, s"s$i")).toDF("id", "s")
      .repartition(4, c("id"))
    Seq(cowT, posT).foreach(t => TxTable.commit(df, t, statsCols = Seq("id")))
    val (cv0, _, _) = TxTable.deleteWhere(spark, cowT, col("id").between(10.0, 40.0))
    val (pv, pn) = TxTable.deleteWherePos(spark, posT, col("id").between(10.0, 40.0))
    pn shouldBe 31L
    // zero files rewritten by the positional form
    TxTable.filesOf(spark, posT, pv) shouldBe TxTable.filesOf(spark, posT, 1)
    canon(TxTable.readVersion(spark, posT, pv)) shouldBe
      canon(TxTable.readVersion(spark, cowT, cv0))
    // already-deleted rows never re-record (idempotent no-op)
    TxTable.deleteWherePos(spark, posT, col("id").between(10.0, 40.0))._2 shouldBe 0L
    // a second, overlapping positional delete stacks correctly
    TxTable.deleteWherePos(spark, posT, col("id").between(30.0, 50.0))._2 shouldBe 10L
    TxTable.read(spark, posT).count() shouldBe 59L
    // CDC: the posdelete version replays as exactly the deleted rows
    val cdc = TxTable.changes(spark, posT, 1, 2)
    cdc.filter(c("_change") === "delete").count() shouldBe 31L
    cdc.count() shouldBe 31L
    // appends after the delete are unaffected; re-inserted ordinals
    // in NEW files never collide with old vectors (per-file scope)
    TxTable.commit(Seq((10L, "re10")).toDF("id", "s"), posT,
      statsCols = Seq("id"))
    TxTable.read(spark, posT).filter(c("id") === 10L).count() shouldBe 1L
    // OPTIMIZE folds the vectors away: content preserved, posd gone
    val cv = TxTable.compact(spark, posT)._1
    TxTable.posDeletesOf(spark, posT, cv) shouldBe empty
    TxTable.read(spark, posT).count() shouldBe 60L
    // sidecars are REFERENCED files for vacuum while their manifests
    // live (vacuuming one would resurrect rows in time travel)
    val sidecars = TxTable.posDeletesOf(spark, posT, 3)
    sidecars should not be empty
    TxTable.vacuum(spark, posT, minAgeMs = 0)
      .intersect(sidecars) shouldBe empty
  }

  // --- r10: metadata-only COUNT(*) from manifest row counts ---
  test("metaCount answers from the manifest and stays exact under posd deletes") {
    val table = freshTable()
    TxTable.commit((1L to 500L).map(i => (i, i % 7)).toDF("id", "g")
      .repartition(3, col("id")), table, statsCols = Seq("id"), countRows = true)
    TxTable.metaCount(spark, table) shouldBe 500L
    // append with counts: counts extend
    TxTable.commit((501L to 600L).map(i => (i, i % 7)).toDF("id", "g"),
      table, countRows = true)
    TxTable.metaCount(spark, table) shouldBe 600L
    // positional delete: each vector pair decrements exactly one row
    val (_, nDel) = TxTable.deleteWherePos(spark, table, col("id").between(100.0, 250.0))
    nDel shouldBe 151L
    TxTable.metaCount(spark, table) shouldBe 449L
    TxTable.read(spark, table).count() shouldBe 449L
    // a key-set delete records vector pairs too: the count stays derivable
    TxTable.deleteKeysMor(spark, table, "id", Seq(300L).toDF("id"))
    TxTable.metaCount(spark, table) shouldBe 448L
    // OPTIMIZE folds the vectors away; recounted files keep the path
    TxTable.compact(spark, table)
    // the compacted files carry the declared row counts
    TxTable.metaCount(spark, table) shouldBe 448L
    TxTable.metaCount(spark, table) shouldBe TxTable.read(spark, table).count()
  }

  test("a manifest still carrying key-form tomb deletes refuses with a named error") {
    val table = freshTable()
    TxTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), table) shouldBe 1
    val file = TxTable.filesOf(spark, table, 1).head
    // the v2 an older build's key-set delete published
    val legacy = s"""{"version":2,"op":"mordelete","n_files":1,"files":["$file"],""" +
      """"tomb":[{"f":"data/v2_t0_0a1b2c3d.parquet","k":"id"}]}"""
    val fw = new java.io.FileWriter(s"$table/_manifests/v2.json")
    fw.write(legacy); fw.close()
    val e = intercept[IllegalArgumentException](TxTable.read(spark, table))
    e.getMessage should include("malformed manifest")
    e.getMessage should include("'tomb'")
    e.getMessage should include("compact the table with the previous build")
    intercept[IllegalArgumentException](graft.sources.TxManifest.parse(legacy)).getMessage shouldBe
      e.getMessage
    // the versions before it still read
    TxTable.readVersion(spark, table, 1).count() shouldBe 2L
  }
}
