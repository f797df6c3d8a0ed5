package graft

import org.apache.spark.sql.functions._

import graft.sources.{TxChangesStream, TxTable}

/** Round-9 additions: manifest parser scoping (stats+bloom together),
  * CDC source crash hardening, O(1) head discovery, optimistic append
  * rebase, key-set merge-on-read delete, column-mapping schema evolution,
  * AvailableNow draining, triangle-frame reuse.
  */
class Round9OpsSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_r9_${tag}_").toString + "/t"

  test("a manifest carrying BOTH stats and bloom arrays parses each without cross-matching; append carries both intact") {
    val table = freshTable("sb")
    val a = Seq((1L, 10.0, "k1"), (2L, 20.0, "k2")).toDF("id", "x", "key")
    val b = Seq((3L, 30.0, "k3")).toDF("id", "x", "key")
    TxTable.commit(a, table, statsCols = Seq("x"), bloomCols = Seq("key")) shouldBe 1
    // v1: both arrays present — each parser must see only its own span
    val s1 = TxTable.statsOf(spark, table, 1)
    val b1 = TxTable.bloomEntries(spark, table, 1)
    s1.map(_._2).distinct shouldBe Seq("x")
    s1.foreach { case (f, _, lo, hi) =>
      f should startWith("data/v1_"); lo should be >= 10.0; hi should be <= 20.0 }
    b1 should not be empty
    b1.map(_._2).distinct shouldBe Seq("key") // the cross-match bug made this garbage
    b1.foreach { case (f, _, m, k, b64) =>
      f should startWith("data/v1_")
      m shouldBe TxTable.BloomM; k shouldBe TxTable.BloomK
      noException should be thrownBy java.util.Base64.getDecoder.decode(b64)
    }
    // append: v2 carries v1's stats AND blooms forward uncorrupted
    TxTable.commit(b, table, statsCols = Seq("x"), bloomCols = Seq("key")) shouldBe 2
    val s2 = TxTable.statsOf(spark, table, 2)
    val b2 = TxTable.bloomEntries(spark, table, 2)
    s2.map(_._2).distinct shouldBe Seq("x")
    b2.map(_._2).distinct shouldBe Seq("key")
    b2.count(_._1.startsWith("data/v1_")) shouldBe b1.size
    b2.foreach { case (_, _, m, k, b64) =>
      m shouldBe TxTable.BloomM; k shouldBe TxTable.BloomK
      java.util.Base64.getDecoder.decode(b64).length shouldBe TxTable.BloomM / 8
    }
    // the blooms still PRUNE and still never lose a key (no false negatives)
    for (key <- Seq("k1", "k2", "k3")) {
      TxTable.readWhereKey(spark, table, "key", key)
        .collect().map(_.getString(2)) shouldBe Array(key)
    }
    TxTable.keptFiles(spark, table, 2, col("key").cast("string") === "definitely_absent") shouldBe empty
    // and the range stats still prune
    TxTable.scan(spark, table, col("x").between(25.0, 35.0))
      .collect().map(_.getLong(0)) shouldBe Array(3L)
  }

  test("a corrupt/partial offered-version marker degrades to the safe floor: the stream survives and delivery stays exactly-once") {
    val table = freshTable("corrupt")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_r9_ckpt_").toString
    TxTable.commit(Seq((1L, "a")).toDF("id", "s"), table) shouldBe 1
    TxTable.commit(Seq((2L, "b")).toDF("id", "s"), table) shouldBe 2
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    def drain(): Unit = {
      val q = TxChangesStream.readChangesStream(spark, table, maxVersionsPerTrigger = Some(1))
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("id", "_version").collect()
            .foreach(r => seen.add((r.getLong(0), r.getInt(1)))); ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    import scala.jdk.CollectionConverters._
    seen.asScala.toSet shouldBe Set((1L, 1), (2L, 2))
    // the throttle floor is represented as EMPTY record files (nothing
    // to tear); simulate corruption anyway — a garbage record name and
    // a planted unreadable entry are both skipped, never wedging the
    // stream (the r8 single-mutable-file design threw
    // NumberFormatException on every later getOffset after a crash
    // between create-truncate and close)
    val dir = java.nio.file.Paths.get(ckpt, "sources", "0", "graft_offered")
    java.nio.file.Files.exists(dir) shouldBe true
    java.nio.file.Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("v")) // hadoop local-fs .crc sidecars aren't records
      .toSet shouldBe Set("v2")  // compacted: one record, the floor
    java.nio.file.Files.write(dir.resolve("vGARBAGE"), Array.emptyByteArray)
    TxTable.commit(Seq((3L, "c")).toDF("id", "s"), table) shouldBe 3
    drain()
    // the new commit arrives; no version rewinds past the offset log
    // (restart may replay the ONE batch whose commit record lost the
    // race with stop() — the documented foreachBatch at-least-once
    // restart contract, made exactly-once by an idempotent sink like
    // commitIdempotent; the SOURCE's floor never rewound)
    seen.asScala.toSet shouldBe Set((1L, 1), (2L, 2), (3L, 3))
    // losing the LATEST record regresses the floor one step at most —
    // still ≥ the committed offset, so nothing crashes and no version
    // before the regressed floor replays
    java.nio.file.Files.deleteIfExists(dir.resolve("v3"))
    TxTable.commit(Seq((4L, "d")).toDF("id", "s"), table) shouldBe 4
    drain()
    seen.asScala.toSet shouldBe Set((1L, 1), (2L, 2), (3L, 3), (4L, 4))
    // bounded replay: nothing arrived more than twice across 3 restarts
    seen.asScala.toSeq.groupBy(identity).values.map(_.size).max should be <= 2
  }

  test("head discovery is O(1): after 200+ commits, reads and CDC polls never enumerate the manifest dir") {
    val table = freshTable("head")
    TxTable.commit(Seq((1L, "a")).toDF("id", "s"), table) shouldBe 1
    // 200 manifest-only commits (restore-to-v1) build a deep history fast
    for (_ <- 1 to 200) TxTable.restore(spark, table, 1)
    TxTable.currentVersion(spark, table) shouldBe 201
    val l0 = TxTable.manifestListings
    // the hot path: head resolution for reads and CDC polls
    TxTable.currentVersion(spark, table) shouldBe 201
    TxTable.read(spark, table).count() shouldBe 1L
    TxTable.changes(spark, table, 199, 201).count() should be >= 0L
    TxTable.manifestListings shouldBe l0 // ZERO listings — hint + forward probe only
    // a torn/missing head pointer falls back to the listing, still correct
    // (the raw write also invalidates hadoop's .crc sidecar — delete it
    // so the torn state is "garbage content", not "checksum mismatch")
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$table/._head.crc"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$table/_head"),
      "garbage".getBytes("UTF-8"))
    TxTable.currentVersion(spark, table) shouldBe 201
    TxTable.manifestListings should be > l0
    // a STALE hint (crash between CAS and pointer write) probes forward
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$table/_head"),
      "150".getBytes("UTF-8"))
    val l1 = TxTable.manifestListings
    TxTable.currentVersion(spark, table) shouldBe 201
    TxTable.manifestListings shouldBe l1 // healed by probes, no listing
    // time travel / history (maintenance surface) still exact
    TxTable.readAsOf(spark, table, System.currentTimeMillis() + 1000L)
      .count() shouldBe 1L
    TxTable.history(spark, table).count() shouldBe 201L
  }

  test("optimistic append rebase: eight concurrent appenders ALL land without caller retry loops") {
    val table = freshTable("rebase")
    TxTable.commit(Seq((0L, "seed")).toDF("id", "s"), table) shouldBe 1
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // NO retry loop here — commit() itself rebases pure appends
    val futures = (1 to 8).map { i =>
      scala.concurrent.Future {
        TxTable.commit(Seq((i.toLong, s"w$i")).toDF("id", "s"), table,
          statsCols = Seq("id"))
      }
    }
    val versions = futures.map(f =>
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration(120, "s")))
    pool.shutdown()
    versions.sorted shouldBe (2 to 9)
    TxTable.currentVersion(spark, table) shouldBe 9
    // the union of rows is exact — nothing lost, nothing doubled
    TxTable.read(spark, table).collect().map(_.getLong(0)).sorted shouldBe (0L to 8L)
    // every version is an append whose stats survived the rebase
    // renames: each version's NEW files (the seed v1 committed without
    // statsCols) carry id stats pointing at files that exist
    (2 to 9).foreach { v =>
      TxTable.opOf(spark, table, v) shouldBe "append"
      val s = TxTable.statsOf(spark, table, v)
      val newFiles = TxTable.filesOf(spark, table, v)
        .diff(TxTable.filesOf(spark, table, v - 1))
      newFiles.toSet.subsetOf(s.map(_._1).toSet) shouldBe true
      s.foreach { case (fl, _, _, _) =>
        new java.io.File(s"$table/$fl").exists() shouldBe true }
    }
    // and no orphans: every staged file was renamed into its winner
    TxTable.orphans(spark, table) shouldBe empty
  }

  test("non-append ops still refuse a lost CAS: a delete losing the race to an append fails loudly") {
    val table = freshTable("conflict")
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    TxTable.commit(Seq((1L, 5.0), (2L, 50.0)).toDF("id", "x"), table,
      statsCols = Seq("x")) shouldBe 1
    // a committer double that loses the first CAS (as if a concurrent
    // append published the version first), then behaves normally
    class FailFirst extends graft.sources.TxCommitter {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      def publish(f: FileSystem, mp: HPath, json: String, nonce: String): Boolean =
        if (n.getAndIncrement() == 0) false
        else graft.sources.LocalLinkCommitter.publish(f, mp, json, nonce)
    }
    TxTable.committerOverride = Some(new FailFirst)
    try {
      val e = intercept[RuntimeException] {
        TxTable.deleteWhere(spark, table, col("x").between(0.0, 10.0))
      }
      e.getMessage should include("conflict")
      TxTable.currentVersion(spark, table) shouldBe 1 // nothing landed
    } finally TxTable.committerOverride = None
    // the SAME injected loss on a pure append self-heals via rebase
    TxTable.committerOverride = Some(new FailFirst)
    try {
      TxTable.commit(Seq((3L, 7.0)).toDF("id", "x"), table) shouldBe 2
    } finally TxTable.committerOverride = None
    TxTable.read(spark, table).count() shouldBe 3L
  }

  test("rename/drop are metadata-only: zero data IO, old files project through the mapping, appends write physical names") {
    val table = freshTable("map")
    val v1 = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "tag", "score")
    TxTable.commit(v1, table, statsCols = Seq("score")) shouldBe 1
    val dataFiles1 = TxTable.filesOf(spark, table, 1)
    // RENAME: metadata-only — same files, new logical schema
    TxTable.renameColumn(spark, table, "score", "quality") shouldBe 2
    TxTable.filesOf(spark, table, 2) shouldBe dataFiles1
    TxTable.read(spark, table).columns shouldBe Array("id", "tag", "quality")
    TxTable.read(spark, table).select("quality")
      .collect().map(_.getDouble(0)).sorted shouldBe Array(10.0, 20.0)
    // an append with the NEW logical schema lands; physical stays "score"
    TxTable.commit(Seq((3L, "c", 30.0)).toDF("id", "tag", "quality"), table,
      statsCols = Seq("quality")) shouldBe 3
    val newFile = TxTable.filesOf(spark, table, 3).diff(dataFiles1)
    spark.read.parquet(newFile.map(rel => s"$table/$rel"): _*)
      .columns should contain("score") // physical name stable forever
    TxTable.read(spark, table).select("quality")
      .collect().map(_.getDouble(0)).sorted shouldBe Array(10.0, 20.0, 30.0)
    // the append gate enforces the MAPPED (logical) shape
    val e = intercept[IllegalArgumentException] {
      TxTable.commit(Seq((4L, "d", 40.0)).toDF("id", "tag", "score"), table)
    }
    e.getMessage should include("schema mismatch")
    // stats-pruned reads translate logical→physical
    TxTable.scan(spark, table, col("quality").between(25.0, 35.0))
      .collect().map(_.getLong(0)) shouldBe Array(3L)
    // time travel to v1 shows the ORIGINAL logical schema
    TxTable.readVersion(spark, table, 1).columns shouldBe Array("id", "tag", "score")
    // DROP: metadata-only; the physical column stays in old files but
    // never surfaces; a full compact physically sheds it
    TxTable.dropColumn(spark, table, "tag") shouldBe 4
    TxTable.filesOf(spark, table, 4) shouldBe TxTable.filesOf(spark, table, 3)
    TxTable.read(spark, table).columns shouldBe Array("id", "quality")
    val v5 = TxTable.compact(spark, table)._1
    spark.read.parquet(TxTable.filesOf(spark, table, v5).map(rel => s"$table/$rel"): _*)
      .columns.sorted shouldBe Array("id", "quality")
    TxTable.read(spark, table).select("quality")
      .collect().map(_.getDouble(0)).sorted shouldBe Array(10.0, 20.0, 30.0)
    // CDC across the rename: inserts surface under each version's
    // logical names; the rename itself is dataChange=false
    val ch = TxTable.changes(spark, table, 0, 4)
    ch.filter(col("_version") === 2).count() shouldBe 0L
    ch.filter(col("_version") === 4).count() shouldBe 0L
    ch.columns should contain("quality")
  }

  test("availableNow drains a K-version backfill in ceil(K/mx) batches, stops, and a restart consumes only later commits") {
    val table = freshTable("avnow")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_r9_avnow_").toString
    for (i <- 1 to 6)
      TxTable.commit(Seq((i.toLong, s"v$i")).toDF("id", "s"), table) shouldBe i
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val batches1 = TxChangesStream.runAvailableNow(spark, table, ckpt,
      (b, _) => { b.select("_version").collect().foreach(r => got.add(r.getInt(0))); () },
      maxVersionsPerTrigger = Some(2))
    batches1 shouldBe 3 // ceil(6/2)
    import scala.jdk.CollectionConverters._
    got.asScala.toSeq.sorted shouldBe (1 to 6)
    // later commits wait for the NEXT run — same checkpoint resumes
    TxTable.commit(Seq((7L, "v7")).toDF("id", "s"), table) shouldBe 7
    TxTable.commit(Seq((8L, "v8")).toDF("id", "s"), table) shouldBe 8
    got.clear()
    val batches2 = TxChangesStream.runAvailableNow(spark, table, ckpt,
      (b, _) => { b.select("_version").collect().foreach(r => got.add(r.getInt(0))); () },
      maxVersionsPerTrigger = Some(2))
    batches2 shouldBe 1 // versions 7..8 in one rate-limited batch
    got.asScala.toSeq.sorted shouldBe Seq(7, 8)
  }

  test("value-set skipping: exact categorical pruning, carried across appends, logical under rename, conservative over the cap") {
    val table = freshTable("vset")
    TxTable.commit(Seq((1L, "web"), (2L, "web"), (3L, "app")).toDF("id", "src")
      .coalesce(1), table, setCols = Seq("src")) shouldBe 1
    TxTable.commit(Seq((4L, "iot")).toDF("id", "src").coalesce(1), table,
      setCols = Seq("src")) shouldBe 2 // sets carry with their files
    // exact pruning: only files recording the probe value are read
    TxTable.filesOf(spark, table, 2).size shouldBe 2
    TxTable.keptFiles(spark, table, 2, col("src") === "web").size shouldBe 1
    TxTable.keptFiles(spark, table, 2, col("src") === "iot").size shouldBe 1
    TxTable.keptFiles(spark, table, 2, col("src") === "nope") shouldBe empty
    TxTable.scan(spark, table, col("src") === "web")
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L)
    TxTable.scan(spark, table, col("src") === "iot")
      .collect().map(_.getLong(0)) shouldBe Array(4L)
    TxTable.scan(spark, table, col("src") === "nope").count() shouldBe 0L
    // rename: probes stay LOGICAL, sets live under the frozen physical name
    TxTable.renameColumn(spark, table, "src", "channel") shouldBe 3
    TxTable.scan(spark, table, col("channel") === "app")
      .collect().map(_.getLong(0)) shouldBe Array(3L)
    TxTable.keptFiles(spark, table, 3, col("channel") === "app").size shouldBe 1
    // a file over the cardinality cap records nothing — always kept
    val wide = freshTable("vsetwide")
    val many = (1 to (TxTable.VsetMaxValues + 5)).map(i => (i.toLong, s"v$i"))
      .toDF("id", "src").coalesce(1)
    TxTable.commit(many, wide, setCols = Seq("src")) shouldBe 1
    TxTable.valueSetsOf(spark, wide, 1) shouldBe empty
    TxTable.keptFiles(spark, wide, 1, col("src") === "anything") shouldBe
      TxTable.filesOf(spark, wide, 1) // conservative: kept
  }

  test("kCenterCoreset releases every round's checkpoint blocks — no corpus copies accumulate in executor storage") {
    val rnd = new scala.util.Random(7)
    val df = (1L to 40L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    def storedBlocks: Int =
      spark.sparkContext.getPersistentRDDs.values
        .count(r => r.getStorageLevel.useMemory || r.getStorageLevel.useDisk)
    val before = storedBlocks
    val got = operators.Similarity.kCenterCoreset(df, k = 6, idCol = "vec_id")
    got.count() shouldBe 6L
    // every per-round checkpoint was released — the r8 leak held k
    // corpus-sized copies for the session's lifetime
    storedBlocks shouldBe before
  }

  test("deleteKeysMor tombstones exactly the keyed rows, is idempotent on replay, and reads through existing tombs") {
    val table = freshTable("delkeys")
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, s"r$i")).toDF("id", "s")
      .repartitionByRange(4, col("id"))
    TxTable.commit(df, table, statsCols = Seq("id"), bloomCols = Seq("id")) shouldBe 1
    val (v2, n1) = TxTable.deleteKeysMor(spark, table, "id",
      Seq(5L, 17L, 93L).toDF("id"))
    v2 shouldBe 2
    n1 shouldBe 3L
    TxTable.read(spark, table).count() shouldBe 97L
    TxTable.read(spark, table).filter(col("id").isin(5L, 17L, 93L)).count() shouldBe 0L
    // zero data files rewritten — manifest-only + sidecar
    TxTable.filesOf(spark, table, 2) shouldBe TxTable.filesOf(spark, table, 1)
    // idempotent: the same key batch re-applied matches nothing, commits nothing
    TxTable.deleteKeysMor(spark, table, "id",
      Seq(5L, 17L, 93L).toDF("id")) shouldBe ((2, 0L))
    TxTable.currentVersion(spark, table) shouldBe 2
    // absent keys: no-op too
    TxTable.deleteKeysMor(spark, table, "id", Seq(5000L).toDF("id")) shouldBe ((2, 0L))
    // stacking on top of existing tombs
    val (v3, n2) = TxTable.deleteKeysMor(spark, table, "id", Seq(17L, 18L).toDF("id"))
    v3 shouldBe 3; n2 shouldBe 1L // 17 was already gone
    TxTable.read(spark, table).count() shouldBe 96L
  }

  test("pipeToMirror propagates inserts AND deletes: the mirror equals the source through delete/re-insert, and restart-resumes exactly-once") {
    val src = freshTable("mirsrc")
    val dst = freshTable("mirdst")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_r9_mir_ckpt_").toString
    import spark.implicits._
    TxTable.commit((1L to 6L).map(i => (i, s"a$i")).toDF("id", "s"), src,
      statsCols = Seq("id")) shouldBe 1
    TxTable.commit(Seq((7L, "a7")).toDF("id", "s"), src) shouldBe 2
    TxTable.deleteWherePos(spark, src, col("id").between(2.0, 3.0))._2 shouldBe 2L // v3
    TxTable.commit(Seq((2L, "re2")).toDF("id", "s"), src) shouldBe 4 // re-insert a deleted key
    TxChangesStream.pipeToMirror(spark, src, dst, "id", "mir_spec", ckpt,
      maxVersionsPerTrigger = Some(1), bloomCols = Seq("id"))
    canon(TxTable.read(spark, dst)) shouldBe canon(TxTable.read(spark, src))
    TxTable.read(spark, dst).count() shouldBe 6L // 1..7 minus {2,3} plus re2
    // restart: only LATER commits apply; nothing replays
    val dstVersionsBefore = TxTable.currentVersion(spark, dst)
    TxTable.deleteKeysMor(spark, src, "id", Seq(7L).toDF("id"))._2 shouldBe 1L // v5
    TxTable.commit(Seq((8L, "a8")).toDF("id", "s"), src) // v6
    TxChangesStream.pipeToMirror(spark, src, dst, "id", "mir_spec", ckpt,
      maxVersionsPerTrigger = Some(1), bloomCols = Seq("id"))
    canon(TxTable.read(spark, dst)) shouldBe canon(TxTable.read(spark, src))
    TxTable.currentVersion(spark, dst) shouldBe dstVersionsBefore + 2
    // a RE-RUN with nothing new is a full no-op (txn markers + offsets)
    TxChangesStream.pipeToMirror(spark, src, dst, "id", "mir_spec", ckpt,
      maxVersionsPerTrigger = Some(1)) shouldBe 0L
    canon(TxTable.read(spark, dst)) shouldBe canon(TxTable.read(spark, src))
  }

  test("clusteringCoefficient over a precomputed triangle frame equals the self-computing form") {
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L),
      (5L, 6L)).toDF("a", "b")
    val self = operators.Graph.clusteringCoefficient(pairs, "a", "b")
    val tris = operators.Graph.triangleCounts(pairs, "a", "b")
      .select("node", "n_triangles")
    val deg = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
      .distinct().groupBy("src").agg(count(lit(1)).as("deg"))
      .withColumnRenamed("src", "node")
    val reused = operators.Graph.clusteringCoefficient(tris, deg)
    canon(reused) shouldBe canon(self)
  }
}
