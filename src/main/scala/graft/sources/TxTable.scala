package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StructType

/** Minimal transactional snapshot layer over parquet — the
  * commit-protocol half the lakehouse family was missing around the
  * engine's existing MERGE (`Upsert.applyChanges`), diff
  * (`Upsert.diffSnapshots`), and OPTIMIZE halves (`Layout
  * .compactionPlan` / `zorderLayout`). Modeled on the public
  * Delta/Iceberg design (cf. Armbrust et al., "Delta Lake", VLDB'20):
  * the TABLE STATE is a tiny versioned manifest naming its data
  * files; readers resolve one manifest and read exactly those files;
  * writers add data files (distributed, conflict-free names) and then
  * publish atomically by creating the next manifest version.
  *
  * Layout:
  * {{{
  *   <table>/data/v<N>_<i>.parquet      # immutable, never rewritten
  *   <table>/_manifests/v<N>.json       # one TxManifest, JSON (TxManifest.render)
  * }}}
  *
  * Why this shape survives 100 TB:
  *  - the data write is a plain distributed `df.write.parquet` — the
  *    driver only MOVES completed part files to their versioned names
  *    and writes one small JSON (Delta's own asymmetry: data plane
  *    distributed, metadata plane tiny);
  *  - readers never LIST the data directory (object-store listing over
  *    millions of files is the classic scale cliff) — the manifest IS
  *    the file list, so `readVersion` hands Spark an explicit path
  *    list and planning cost scales with the snapshot's file count;
  *  - snapshot isolation is structural: files are immutable and a
  *    manifest is immutable once created, so any reader of version N
  *    sees exactly version N forever — time travel is just "resolve an
  *    older manifest";
  *  - OPTIMISTIC CONCURRENCY rides the filesystem's atomic
  *    create-fails-if-exists: two writers racing to version N+1 —
  *    exactly one manifest creation wins; the loser's data files are
  *    orphans (vacuum's job) and it retries against the new head.
  *    On HDFS create(overwrite=false) is atomic; object stores need
  *    their conditional-put (documented, same contract Delta needs).
  *
  * Data-file names carry their target version (v<N>_<i>_<nonce>) so
  * snapshots stay externally addressable — the DuckDB oracle re-reads
  * a version by globbing `v<N>_*`, and an auditor can diff two
  * snapshots from the manifests alone. The per-commit nonce is what
  * keeps racing writers from colliding on a NAME before exactly one
  * of them wins the manifest race (Delta's GUID-name rule).
  */
/** Atomic manifest publish — the ONE store-specific step in the commit
  * protocol (the "atomic rename / conditional put" point of the Delta
  * paper). An implementation must make the manifest visible
  * all-or-nothing (no reader may ever observe a partial manifest) and
  * return false IFF the version path already exists — i.e. another
  * writer won the version race. Everything else in the protocol
  * (scratch writes, versioned names, carried file lists, monotonic
  * timestamps) is store-agnostic and lives in [[TxTable.commitAs]].
  *
  * Shipped impls: [[LocalLinkCommitter]] (file:// — hard-link claim)
  * and [[AtomicCreateCommitter]] (HDFS-likes — create(overwrite =
  * false) is atomic there). An object store needs its conditional put
  * (S3 `If-None-Match: *`, GCS `ifGenerationMatch=0`); this seam is
  * where that impl plugs in without touching the protocol.
  */
private[graft] trait TxCommitter {
  /** @return true if this writer won version `mp`; false on conflict */
  def publish(f: FileSystem, mp: Path, json: String, nonce: String): Boolean
}

/** Hadoop's LOCAL create(overwrite=false) is exists-then-create — a
  * TOCTOU window two racing writers really do hit (caught by the
  * 8-writer stress spec). The atomic local protocol: write the
  * manifest COMPLETE to a hidden temp, then claim the version with a
  * HARD LINK — link(2) fails EEXIST atomically and the published file
  * is whole from its first instant.
  */
private[graft] object LocalLinkCommitter extends TxCommitter {
  def publish(f: FileSystem, mp: Path, json: String, nonce: String): Boolean = {
    val dir = java.nio.file.Paths.get(mp.getParent.toUri.getPath)
    val tmpM = dir.resolve(s".${mp.getName.stripSuffix(".json")}.$nonce.tmp")
    java.nio.file.Files.write(tmpM, json.getBytes("UTF-8"))
    try { java.nio.file.Files.createLink(dir.resolve(mp.getName), tmpM); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally java.nio.file.Files.deleteIfExists(tmpM)
  }
}

/** HDFS-likes: create(overwrite=false) IS an atomic namespace op. */
private[graft] object AtomicCreateCommitter extends TxCommitter {
  def publish(f: FileSystem, mp: Path, json: String, nonce: String): Boolean = {
    val out = try f.create(mp, false) catch {
      case _: java.io.IOException => return false
    }
    try out.write(json.getBytes("UTF-8")) finally out.close()
    true
  }
}

/** The object-store primitive the commit protocol needs — a WHOLE-
  * OBJECT conditional PUT that succeeds iff the key does not yet
  * exist. This is exactly the server-side contract of S3
  * `If-None-Match: *`, GCS `ifGenerationMatch=0`, and ABFS
  * `If-None-Match: *`: the object becomes visible atomically and
  * WHOLE (object stores have no partial-file state), and exactly one
  * of N racing writers gets the 200. A production deployment
  * implements this with the store's SDK; the protocol above it is
  * identical.
  */
trait ConditionalStore {
  /** @return true iff `key` did not exist and now holds `bytes` */
  def putIfAbsent(f: FileSystem, key: Path, bytes: Array[Byte]): Boolean
}

/** Local-FS emulation of the conditional put (this sandbox has no
  * object store): stage the bytes COMPLETE in a hidden sibling, then
  * claim the key with link(2) — EEXIST is the lost race, and the
  * published object is whole from its first instant, which is the
  * atomicity a real store provides server-side. The temp is removed
  * on both outcomes, so a lost race leaves NO manifest orphan.
  */
final class LocalEmulatedObjectStore extends ConditionalStore {
  def putIfAbsent(f: FileSystem, key: Path, bytes: Array[Byte]): Boolean = {
    val dir = java.nio.file.Paths.get(key.getParent.toUri.getPath)
    java.nio.file.Files.createDirectories(dir)
    val tmp = java.nio.file.Files.createTempFile(dir, s".put_${key.getName}_", ".tmp")
    try {
      java.nio.file.Files.write(tmp, bytes)
      try { java.nio.file.Files.createLink(dir.resolve(key.getName), tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } finally { java.nio.file.Files.deleteIfExists(tmp); () }
  }
}

/** [[TxCommitter]] over any [[ConditionalStore]] — the object-store
  * commit path (the "atomic put-if-absent" point of the Delta paper,
  * §3.2): the manifest IS the whole object, so publish is ONE
  * conditional put and the version race resolves server-side. No
  * rename, no lease, no lock service; a lost CAS returns false and
  * the caller's conflict path takes over (retry / idempotent rescan).
  */
final class ObjectStoreCommitter(store: ConditionalStore) extends TxCommitter {
  def publish(f: FileSystem, mp: Path, json: String, nonce: String): Boolean =
    store.putIfAbsent(f, mp, json.getBytes("UTF-8"))
}

object TxTable {

  /** Test/extension hook: force a specific committer (e.g. a double
    * proving the conflict path, or a future object-store impl).
    */
  @volatile private[graft] var committerOverride: Option[TxCommitter] = None

  private def committerFor(f: FileSystem): TxCommitter =
    committerOverride.getOrElse(
      if (f.getScheme == "file") LocalLinkCommitter else AtomicCreateCommitter)

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(table: String, v: Int) =
    new Path(s"$table/_manifests/v$v.json")

  /** Resolve a manifest file entry to a readable path. Entries are
    * normally RELATIVE to the table root; a SHALLOW CLONE
    * ([[cloneShallow]]) records the source's files as ABSOLUTE paths
    * (leading '/'), which pass through unchanged — the zero-copy
    * borrow. Every physical read and file-size probe resolves through
    * here so clone snapshots read identically to owned ones.
    */
  private def dataPath(table: String, rel: String): String =
    if (rel.startsWith("/")) rel else s"$table/$rel"

  /** Files with more distinct values than this record no value set
    * (they are always kept — conservative, and the manifest stays
    * small). A range-/hash-clustered layout on the column keeps
    * per-file cardinality tiny, which is the point. Value-set skipping
    * is the partition-pruning equivalent for low-cardinality
    * categorical columns WITHOUT physical partitioning: a file whose
    * recorded value set misses the probe value cannot contain it
    * (exact, not probabilistic — the categorical complement of the
    * bloom index, which serves high-cardinality keys). Values are
    * stored as JSON strings, so any value round-trips exactly.
    */
  val VsetMaxValues: Int = 64

  /** THE publish step of every writer: `next` is the version's whole
    * resolved state, built as an edit of `parent` (the resolved head it
    * read; None for a first version). Here, and only here:
    *  - the commit time is set STRICTLY MONOTONIC over the parent
    *    (Delta's timestamp-as-of contract: two commits landing in the
    *    same wall millisecond must still resolve distinctly);
    *  - the form is chosen: the O(delta) form when the commit carries
    *    any of its parent's files, is not a [[CheckpointEvery]]
    *    version, and the delta resolves back to `next` exactly; the
    *    self-contained full form otherwise (a snapshot-replacing commit
    *    is its own natural checkpoint);
    *  - the manifest is CAS-published and, on a win, the head pointer
    *    updated.
    * @return false iff another writer already published the version
    */
  private def publishNext(f: FileSystem, table: String, parent: Option[TxManifest],
                          next: TxManifest,
                          casNonce: String = java.util.UUID.randomUUID().toString.take(8)): Boolean = {
    val full = next.copy(commitMs =
      math.max(System.currentTimeMillis(), parent.fold(0L)(_.commitMs) + 1L))
    val form = parent match {
      case Some(p) if full.version % CheckpointEvery != 0 =>
        val d = full.deltaOver(p)
        if (d.files.size < full.files.size && d.resolve(p) == full) d else full
      case _ => full
    }
    val mp = manifestPath(table, full.version)
    f.mkdirs(mp.getParent)
    val won = committerFor(f).publish(f, mp, TxManifest.render(form), casNonce)
    if (won) writeHeadHint(f, table, full.version)
    won
  }

  /** [[publishNext]] with a loud conflict on a lost race. */
  private def publishOrConflict(f: FileSystem, table: String,
                                parent: Option[TxManifest], next: TxManifest): Unit =
    if (!publishNext(f, table, parent, next)) conflict(table, next.version)

  private def conflict(table: String, v: Int): Nothing =
    sys.error(s"TxTable: commit conflict — version $v at $table was " +
      "published by another writer; re-read and retry")

  /** Diagnostic counter of manifest-directory enumerations — the spec
    * instrument proving head discovery stays O(1) on the hot path
    * (every `read()` / CDC poll): after the head hint exists, reads
    * must not bump this.
    */
  @volatile private[graft] var manifestListings: Long = 0L

  /** Versions whose manifest still exists (contiguous from 1 until
    * `expireVersions` trims the head of history). Sorted ascending.
    *
    * A DIRECTORY LISTING — maintenance/history surface only (history,
    * readAsOf, txn rescans, vacuum/expire). The hot path
    * ([[currentVersion]]) resolves the head in O(1) via the published
    * head pointer and falls back here only when the pointer is missing
    * or torn.
    */
  def liveVersions(spark: SparkSession, table: String): Seq[Int] = {
    val dir = new Path(s"$table/_manifests")
    val f = fs(spark, table)
    if (!f.exists(dir)) Seq.empty
    else {
      manifestListings += 1
      f.listStatus(dir).map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
          n.stripPrefix("v").stripSuffix(".json").toInt }
        .sorted.toSeq
    }
  }

  /** O(1) head discovery (the Delta `_last_checkpoint` shape): every
    * successful publish writes a best-effort head POINTER at
    * `<table>/_head`; readers start from the hinted version and probe
    * FORWARD with exists() calls (a stale hint — crash between CAS and
    * pointer write, or two pointers racing out of order — costs a few
    * probes, never a wrong answer, because manifests are immutable and
    * versions contiguous at the head). A missing/torn pointer falls
    * back to one directory listing. Without this, every `read()` and
    * every CDC poll pays an O(versions) listing — the first thing that
    * melts at 10⁵ commits.
    */
  private def headPath(table: String) = new Path(s"$table/_head")

  private def readHeadHint(f: FileSystem, table: String): Int =
    try {
      val in = f.open(headPath(table))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
      finally in.close()
    } catch { case scala.util.control.NonFatal(_) => 0 }

  /** Best-effort — a committed publish must NEVER fail over its hint
    * (the probe-forward read heals any staleness).
    */
  private def writeHeadHint(f: FileSystem, table: String, v: Int): Unit =
    try {
      val out = f.create(headPath(table), true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Largest committed version, or 0 if the table doesn't exist yet.
    * O(1 + staleness) via the head pointer; listing only as fallback.
    */
  def currentVersion(spark: SparkSession, table: String): Int = {
    val f = fs(spark, table)
    val hint = readHeadHint(f, table)
    if (hint >= 1 && f.exists(manifestPath(table, hint))) {
      var v = hint
      while (f.exists(manifestPath(table, v + 1))) v += 1
      v
    } else liveVersions(spark, table).foldLeft(0)(math.max)
  }

  /** MANIFEST DELTA-LOG (the Delta actions-log + checkpoint shape):
    * a commit that carries any of its parent's files writes a DELTA
    * manifest — `"base":<parent>`, the files it added/removed, and
    * skipping entries for the ADDED files only — so a 1-file append's
    * manifest bytes are O(delta), independent of the table's file
    * count; every [[CheckpointEvery]]-th version (and every
    * snapshot-replacing commit: overwrite/merge/full-compact, which
    * carry nothing) writes the self-contained FULL form, bounding every
    * reader's reconstruction walk. [[publishNext]] makes that choice
    * for every writer. Scalar fields (version, op, commit_ms, txn, ms,
    * part, schema, map, index) and the deletion-vector list (bounded
    * by deletes-since-OPTIMIZE, not by file count) are whole in BOTH
    * forms, so their accessors read one manifest.
    */
  val CheckpointEvery: Int = 10

  /** Manifests are immutable once published, so resolved snapshots
    * cache safely; bounded (cleared wholesale past the cap — resolved
    * state rebuilds in ≤ [[CheckpointEvery]] manifest reads). [[drop]]
    * invalidates a table's entries (same path, new content).
    */
  private val snapCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), TxManifest]()

  /** Resolve version `v`'s whole state: a full manifest as parsed; a
    * delta manifest applied over its parent's resolved state.
    * Recursion depth ≤ [[CheckpointEvery]] by the checkpoint cadence;
    * resolved parents cache, so a poll loop pays one small manifest
    * read per new commit.
    */
  private[graft] def snapshotOf(spark: SparkSession, table: String,
                                v: Int): TxManifest = {
    require(v >= 1, s"versions start at 1, got $v")
    val key = (table, v)
    val hit = snapCache.get(key)
    if (hit != null) return hit
    require(fs(spark, table).exists(manifestPath(table, v)),
      s"TxTable: no version $v at $table")
    val m = manifestOf(spark, table, v)
    val snap = m.delta.fold(m)(d => m.resolve(snapshotOf(spark, table, d.base)))
    if (snapCache.size > 512) snapCache.clear()
    snapCache.put(key, snap)
    snap
  }

  /** Data files of version `v`, as resolved from its manifest chain
    * (relative to the table root).
    */
  def filesOf(spark: SparkSession, table: String, v: Int): Seq[String] =
    snapshotOf(spark, table, v).files

  /** Commit `df` as the next version. `op = "append"` carries the
    * previous version's files forward plus the new ones; `op =
    * "overwrite"` starts the file list fresh (old files stay on disk
    * for time travel until vacuumed). Returns the committed version.
    *
    * `statsCols`, `nullCols`, `bloomCols`, `setCols` and `countRows`
    * DECLARE the table's skipping index ([[TxIndex]]): the manifest
    * records the union of these and the table's earlier declaration, and
    * every later writer gives the files it adds the same entries.
    *
    * Concurrency: the manifest publish is a CAS. A PURE APPEND that
    * loses the race REBASES automatically — it has no read-set, so
    * landing after the competitor is semantically identical to landing
    * before; the staged data files are renamed to the new target (a
    * metadata op, no data rewrite) and the CAS retried against the new
    * head (the Delta conflict-resolution rule for AddFile-only
    * commits). Concurrent ingestion — N appenders — therefore all
    * land, each at its own version. Every other op (overwrite /
    * delete / evolve / merge) FAILS LOUDLY with the competing version
    * named: their output depends on the snapshot they read, so a
    * rebase must recompute (see [[mergeInto]]'s re-merge loop).
    */
  def commit(df: DataFrame, table: String, op: String = "append",
             statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
             maxAttempts: Int = 20, setCols: Seq[String] = Nil,
             partitionBy: Option[String] = None,
             countRows: Boolean = false,
             nullCols: Seq[String] = Nil): Int =
    commitAs(df, table, currentVersion(df.sparkSession, table) + 1, op,
      TxIndex(statsCols, nullCols, bloomCols, setCols, countRows),
      rebaseAppend = op == "append", maxAttempts = maxAttempts,
      partitionBy = partitionBy)

  /** Bloom-index geometry (recorded per manifest entry so it can evolve
    * without breaking old tables): m bits / k hashes give ~1% FP at
    * ~400 distinct keys per file-column; the hash family is the
    * engine-portable md5-affine one, so the oracle (or any auditor)
    * recomputes every filter from the data alone.
    */
  val BloomM: Int = 4096
  val BloomK: Int = 3

  /** Normalized (name, type) schema fingerprint: order- and
    * nullability-insensitive (parquet resolves columns by name; a
    * reordered append round-trips losslessly), type-strict.
    */
  private def schemaKey(s: org.apache.spark.sql.types.StructType): Seq[(String, String)] =
    s.fields.map(fd => (fd.name, fd.dataType.sql)).sortBy(_._1).toSeq

  /** The Spark types whose per-file min/max is recorded (at commit) and
    * read (by [[keptFiles]]): the ones whose footer statistics are their
    * values, exactly or widened outward as doubles. Decimal footers hold
    * UNSCALED integers, and other types' order is not the double order,
    * so they record no range stats.
    */
  private[graft] def rangeTyped(t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    t match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => true
      case _ => false
    }
  }

  /** The version-pinned commit body every writer publishes through —
    * the race window lives between the head read and the manifest
    * create, so tests (and a future retry loop) drive this directly
    * with a chosen target version. `index` (LOGICAL names) joins the
    * parent's declaration; the union, restricted to the columns the new
    * files hold, is recorded and gathered for every file this commit
    * adds ([[indexEntries]]).
    */
  private[graft] def commitAs(df: DataFrame, table: String, v: Int, op: String,
                              index: TxIndex = TxIndex(),
                              carryFiles: Option[Seq[String]] = None,
                              txn: Option[(String, Long)] = None,
                              rebaseAppend: Boolean = false,
                              maxAttempts: Int = 5,
                              dfIsPhysical: Boolean = false,
                              partitionBy: Option[String] = None,
                              preNamed: Option[Seq[String]] = None): Int = {
    require(op == "append" || op == "overwrite" || op == "compact" ||
      op == "delete" || op == "update" || op == "evolve" || op == "merge",
      s"unknown op $op")
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    val spark = df.sparkSession
    val f = fs(spark, table)
    // COLUMN MAPPING: ops that write ALONGSIDE the parent's files
    // (append/evolve, and the carry-file rewrites: copy-on-write
    // delete, incremental compaction) must store data under the
    // parent's PHYSICAL names — rename is metadata-only precisely
    // because physical names never change once a file is written.
    // Snapshot-REPLACING ops (overwrite / merge / full compact) reset
    // the mapping: their fresh files use logical names physically.
    val carrying = v > 1 && (op == "append" || op == "evolve" || carryFiles.isDefined)
    val parentMap: Option[Seq[(String, String)]] =
      if (carrying) colMapOf(spark, table, v - 1) else None
    val writeMap: Option[Seq[(String, String)]] =
      if (op == "evolve")
        // evolution under a mapping: new columns enter with physical =
        // logical (no file has written them under any other name)
        parentMap.map(m => m ++ df.schema.fieldNames
          .filterNot(n => m.exists(_._1 == n)).map(n => (n, n)))
      else parentMap
    // APPEND SCHEMA GATE: an append commit carries the parent's files
    // forward — an incompatible append would commit a snapshot that
    // silently reads with whichever footer is sampled (late-added
    // columns can vanish without an error). Refuse LOUDLY before any
    // distributed work. LOGICAL schemas compare: the manifest records
    // the snapshot's logical schema on every commit (O(1), no footer
    // IO); the footer fallback covers only pre-schema manifests.
    def appendGate(parentV: Int): Unit = if (op == "append" && parentV >= 1) {
      val parentSchema: Option[StructType] =
        manifestSchema(spark, table, parentV).orElse {
          val parentFiles = filesOf(spark, table, parentV)
          if (parentFiles.isEmpty) None
          else Some {
            if (msOf(spark, table, parentV))
              spark.read.option("mergeSchema", "true")
                .parquet(parentFiles.map(rel => dataPath(table, rel)): _*).schema
            else graft.core.ParquetFooters.schemaOf(spark, dataPath(table, parentFiles.head))
          }
        }
      parentSchema.foreach { parent =>
        require(schemaKey(parent) == schemaKey(df.schema),
          s"TxTable: append schema mismatch at $table v${parentV + 1} — parent snapshot has " +
          s"${schemaKey(parent).map(p => p._1 + ":" + p._2).mkString("[", ", ", "]")} but the " +
          s"appended frame has ${schemaKey(df.schema).map(p => p._1 + ":" + p._2).mkString("[", ", ", "]")}; " +
          "schema changes require commitEvolve (additive), renameColumn/dropColumn " +
          "(metadata-only), or op=\"overwrite\"")
      }
      ()
    }
    if (v > 1) appendGate(v - 1)
    // LOGICAL→PHYSICAL translation for the write (identity for
    // unmapped tables; skipped for frames already read raw from the
    // parent's files — CoW delete survivors, compaction rebins)
    val physDf = writeMap match {
      case Some(m) if !dfIsPhysical =>
        df.select(m.map { case (n, p) => col(n).as(p) }: _*)
      case _ => df
    }
    // the manifest records the LOGICAL snapshot schema — hidden layout
    // columns (path-derived, [[hiddenSpecOf]]) never enter it
    val logicalSchema0: StructType = StructType((writeMap match {
      case Some(m) if dfIsPhysical =>
        StructType(m.map { case (n, p) => df.schema(p).copy(name = n) })
      case _ => df.schema
    }).fields.filterNot(f => hiddenSpecOf(f.name).isDefined))
    // a carrying commit records the PARENT's field order (parquet
    // resolves by name, so order is representational — but physical
    // rewrites read through the hive layout surface the partition
    // column last, and the recorded schema must not drift with them);
    // columns new to this commit (evolve) append at the end
    val logicalSchema: StructType =
      if (!carrying) logicalSchema0
      else manifestSchema(spark, table, v - 1).map { ps =>
        StructType(
          ps.fieldNames.toSeq.flatMap(n => logicalSchema0.fields.find(_.name == n)) ++
          logicalSchema0.fields.filterNot(f => ps.fieldNames.contains(f.name)))
      }.getOrElse(logicalSchema0)
    // null counts ride the stats array under '<col>#nulls' — '#' in a
    // tracked name would collide with that namespace
    require((index.stats ++ index.nulls).forall(!_.contains("#")),
      "TxTable: statsCols/nullCols names may not contain '#'")
    val own = index.columns(c => Some(physOf(writeMap, c)))
    // PARTITIONED LAYOUT (the hive data/<col>=<val>/ shape): a commit
    // carrying parent files INHERITS the parent's partition column —
    // mixing partitioned and flat files under one basePath read is
    // unreadable, so a carrying commit may never change the layout
    // (an overwrite/merge/full-compact may, like the column mapping).
    val parentPart: Option[String] =
      if (carrying) partColOf(spark, table, v - 1) else None
    val physPart: Option[String] =
      partitionBy.map(c => physOf(writeMap, c)).orElse(parentPart)
    if (carrying) require(physPart == parentPart,
      s"TxTable: partition layout mismatch at $table v$v — parent layout is " +
      s"${parentPart.fold("unpartitioned")(c => s"partitioned by '$c'")} but this " +
      s"commit asked for ${physPart.fold("unpartitioned")(c => s"'$c'")}; layout " +
      "changes require op=\"overwrite\" (or a full compact)")
    physPart.foreach { pc =>
      require(!(own.stats ++ own.blooms ++ own.sets).contains(pc),
        s"TxTable: column '$pc' is the partition column — its value is in the " +
        "file path and partition pruning is already exact; drop it from " +
        "statsCols/bloomCols/setCols")
    }
    // distributed data write to a WRITER-UNIQUE scratch dir (two
    // writers racing to the same version must not clobber each
    // other's in-flight part files — the nonce that de-collides the
    // final names has to cover the scratch too), then versioned
    // names — the move is a metadata op on HDFS-likes
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(s"$table/_tmp_v${v}_$nonce")
    // hidden layout: frames arriving WITHOUT the transform column
    // (user appends, full compact, merge results — all logical) derive
    // it here; raw rewrite frames already carry it from the path
    val physDfW = physPart match {
      case Some(pc) if hiddenSpecOf(pc).isDefined && !physDf.columns.contains(pc) =>
        physDf.withColumn(pc, hiddenColOf(pc))
      case _ => physDf
    }
    // WAP publish path: the data files were already written at stage
    // time ([[stageWap]]) — skip the distributed write and adopt them;
    // stats/blooms/vsets below recompute from their footers/contents,
    // and a rebase re-keys them to versioned names like any append.
    var named: Seq[String] = preNamed.getOrElse {
      physPart match {
        case Some(pc) => physDfW.write.mode("overwrite").partitionBy(pc)
          .parquet(tmp.toString)
        case None => physDfW.write.mode("overwrite").parquet(tmp.toString)
      }
      // partitioned writes nest part files one level down
      // (<col>=<val>/part-*); the versioned rename preserves the
      // partition directory so the manifest path IS the partition value
      val parts: Seq[(Path, String)] =
        if (physPart.isEmpty)
          f.listStatus(tmp).map(_.getPath)
            .filter(_.getName.startsWith("part-")).sortBy(_.getName)
            .map(p => (p, "data")).toSeq
        else
          f.listStatus(tmp).filter(_.isDirectory)
            .flatMap(d => f.listStatus(d.getPath).map(_.getPath)
              .filter(_.getName.startsWith("part-"))
              .map(p => (p, s"data/${d.getPath.getName}")))
            .sortBy { case (p, d) => (d, p.getName) }.toSeq
      f.mkdirs(new Path(s"$table/data"))
      val out = parts.zipWithIndex.map { case ((p, dir), i) =>
        val rel = s"$dir/v${v}_${i}_$nonce.parquet"
        f.mkdirs(new Path(s"$table/$dir"))
        require(f.rename(p, new Path(s"$table/$rel")), s"rename failed for $p")
        rel
      }.toSeq
      f.delete(tmp, true)
      out
    }
    // THE SKIPPING INDEX this commit records: the parent's declaration
    // (its physical names read back through the parent's mapping, then
    // written through this commit's — identity for a carrying commit,
    // logical names for a snapshot-replacing one) plus this commit's own,
    // restricted to columns the new files hold
    val present = physDfW.columns.toSet -- physPart
    def declared(parent: Option[TxManifest]): TxIndex =
      (parent.fold(TxIndex())(p => p.index.columns(c =>
        Some(physOf(writeMap, logicalOf(p.map, c))))) ++ own)
        .columns(c => Some(c).filter(present))
    // the new files' entries, gathered once per declaration (a rebase
    // onto a parent that declares more gathers again)
    var gathered: Option[(TxIndex, TxManifest)] = None
    // THE PUBLISH LOOP. Attempt 1 targets `v`; a pure append losing the
    // CAS rebases — re-reads the head, re-runs the schema gate against
    // the new parent, renames the staged files to the new target (a
    // driver-side metadata op; the distributed write is NOT redone —
    // the Delta rule: an AddFile-only commit is conflict-free), and
    // publishes again. Everything parent-derived (carried files/stats/
    // blooms/deletion vectors, the ms flag, the declaration, the
    // monotonic timestamp) recomputes per attempt.
    var target = v
    var attempt = 0
    var out = -1
    while (out < 0) {
      attempt += 1
      val parent = if (target > 1) Some(snapshotOf(spark, table, target - 1)) else None
      val decl = declared(parent)
      if (!gathered.exists(_._1 == decl))
        gathered = Some(decl -> indexEntries(spark, table, named,
          StructType(physDfW.schema.filter(fd => present(fd.name))), decl))
      // carryFiles overrides the default carry rule: a copy-on-write
      // op (delete) carries exactly the UNTOUCHED subset of the
      // parent's files — the caller decided which from manifest stats.
      val carried = carryFiles.getOrElse(
        if (op == "append" || op == "evolve") parent.fold(Seq.empty[String])(_.files)
        else Seq.empty)
      // the parent's state for the carried files: their skipping
      // entries and row counts, plus the merge-on-read deletion vectors
      // (they reference carried file names). A snapshot-replacing
      // commit sheds them all (the rewrite read through them in
      // readVersion / morFilter).
      val kept = parent.filter(_ => carried.nonEmpty)
        .fold(TxManifest(target, op))(_.carrying(carried))
      val next = kept.plus(gathered.get._2).copy(version = target, op = op, txn = txn,
        // schema-evolution flag: sticky from the first evolve commit on
        // (every later snapshot mixes footers, so every later read needs
        // mergeSchema), reset by an overwrite/compact (fresh uniform files)
        ms = op == "evolve" || kept.ms,
        part = physPart, schema = Some(logicalSchema.toDDL), map = writeMap,
        index = decl)
      if (publishNext(f, table, parent, next, nonce)) {
        out = target
      } else if (!(rebaseAppend && op == "append" && attempt < maxAttempts)) {
        conflict(table, target)
      } else {
        val newTarget = currentVersion(spark, table) + 1
        // a concurrent rename/drop changed the column mapping under
        // us: the staged files carry stale physical names — refuse
        require(colMapOf(spark, table, newTarget - 1) == parentMap,
          s"TxTable: commit conflict at $table — a concurrent writer changed the " +
          "column mapping; the staged append carries stale physical names (retry)")
        appendGate(newTarget - 1)
        // a concurrent layout change under the staged files — refuse
        require(partColOf(spark, table, newTarget - 1) == parentPart,
          s"TxTable: commit conflict at $table — a concurrent writer changed the " +
          "partition layout; the staged append carries the old layout (retry)")
        if (newTarget != target) {
          val renamed = named.zipWithIndex.map { case (rel, i) =>
            val dir = rel.substring(0, rel.lastIndexOf('/')) // keeps <col>=<val>
            val nrel = s"$dir/v${newTarget}_${i}_$nonce.parquet"
            require(f.rename(new Path(s"$table/$rel"), new Path(s"$table/$nrel")),
              s"TxTable: rebase rename failed for $rel")
            rel -> nrel
          }
          named = renamed.map(_._2)
          gathered = gathered.map { case (d, m) => (d, m.mapFiles(renamed.toMap)) }
          target = newTarget
        }
      }
    }
    out
  }

  /** The skipping entries declaration `index` asks of a commit's new
    * files `named` (PHYSICAL columns, typed by `schema`), as a manifest
    * fragment holding those files. Recorded at commit, they let a read
    * prune FILES from the manifest alone (the Delta data-skipping shape:
    * no footer round-trip per file on the read path). Two passes:
    *  - ONE FOOTER WALK, driver-side, one open per new file: min/max of
    *    the [[rangeTyped]] stats columns (BIGINT past 2^53 widened
    *    outward one ulp, so a double bound never rounds inward), null
    *    counts as '<col>#nulls' entries with lo = hi = the count, and
    *    the row count. A block without the statistic records nothing
    *    for that column, and the pruner keeps such files;
    *  - ONE SPARK JOB over the new files for every bloom and value-set
    *    column, aggregated executor-side to one row per (file, column):
    *    a bloom's bit positions (k md5-affine hashes mod m of each
    *    non-null string form — membership pruning with no false
    *    negatives), a value set's distinct string forms (exact
    *    categorical pruning; a file past [[VsetMaxValues]] records none,
    *    dropped before the collect).
    */
  private def indexEntries(spark: SparkSession, table: String, named: Seq[String],
                           schema: StructType, index: TxIndex): TxManifest = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.column.statistics.Statistics
    val ranged = index.stats.filter(c => rangeTyped(schema(c).dataType))
    // per new file: (range and null-count entries, row count)
    val footers: Seq[(Seq[(String, String, Double, Double)], Option[(String, Long)])] =
      if (ranged.isEmpty && index.nulls.isEmpty && !index.rows) Nil
      else named.map { rel =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(s"$table/$rel"), spark.sparkContext.hadoopConfiguration))
        try {
          val blocks = r.getFooter.getBlocks.asScala.toSeq
          // column c's statistic in every block, or None
          def perBlock[A](c: String)(stat: Statistics[_] => Option[A]): Option[Seq[A]] = {
            val xs = blocks.map(b => b.getColumns.asScala.find(_.getPath.toDotString == c)
              .flatMap(m => Option(m.getStatistics)).flatMap(stat))
            if (xs.nonEmpty && xs.forall(_.isDefined)) Some(xs.flatten) else None
          }
          def widened(n: Any, up: Boolean): Double = n match {
            case l: java.lang.Long if l.longValue > (1L << 53) || l.longValue < -(1L << 53) =>
              if (up) Math.nextUp(l.doubleValue) else Math.nextDown(l.doubleValue)
            case x: java.lang.Number => x.doubleValue
          }
          val ranges = ranged.flatMap(c => perBlock(c)(st =>
            if (!st.hasNonNullValue) None
            else Some((widened(st.genericGetMin, up = false),
              widened(st.genericGetMax, up = true))))
            .map(bs => (rel, c, bs.map(_._1).min, bs.map(_._2).max)))
          val nulls = index.nulls.flatMap(c => perBlock(c)(st =>
            if (st.isNumNullsSet && st.getNumNulls >= 0) Some(st.getNumNulls) else None)
            .map { ns => val n = ns.sum.toDouble; (rel, c + "#nulls", n, n) })
          (ranges ++ nulls, if (index.rows) Some(rel -> blocks.map(_.getRowCount).sum) else None)
        } finally r.close()
      }
    // per (new file, probed column): the bit positions of a bloom column
    // (index < nb) or the values of a set column, as strings
    val nb = index.blooms.size
    val probed: Seq[(String, Int, Seq[String])] =
      if (nb + index.sets.size == 0 || named.isEmpty) Nil
      else {
        val relOf = named.map(rel => rel.substring(rel.lastIndexOf('/') + 1) -> rel).toMap
        val order = named.zipWithIndex.toMap
        def item(i: Int, x: Column) = struct(lit(i).as("c"), x.cast("string").as("x"))
        val items = index.blooms.zipWithIndex.flatMap { case (c, i) =>
          val v = col(c).cast("string")
          val h = graft.functions.Hashing.portableHash(v)
          (0 until BloomK).map(j => item(i,
            when(v.isNotNull, pmod(graft.functions.Hashing.affine(j, h), lit(BloomM.toLong)))))
        } ++ index.sets.zipWithIndex.map { case (c, i) => item(nb + i, col(c)) }
        spark.read.schema(StructType((index.blooms ++ index.sets).distinct.map(schema(_))))
          .parquet(named.map(rel => s"$table/$rel"): _*)
          .select(input_file_name().as("_f"), explode(array(items: _*)).as("_e"))
          .filter(col("_e.x").isNotNull)
          .groupBy(col("_f"), col("_e.c").as("_c")).agg(collect_set(col("_e.x")).as("_s"))
          .filter(col("_c") < nb || size(col("_s")) <= VsetMaxValues)
          .collect().toSeq
          .map { r =>
            val fp = r.getString(0)
            (relOf(fp.substring(fp.lastIndexOf('/') + 1)), r.getInt(1), r.getSeq[String](2))
          }
          .sortBy { case (rel, i, _) => (order(rel), i) } // bytes independent of collect order
      }
    def bitset(bits: Seq[String]): String = {
      val bytes = new Array[Byte](BloomM / 8)
      bits.map(_.toInt).foreach(b => bytes(b >> 3) = (bytes(b >> 3) | (1 << (b & 7))).toByte)
      java.util.Base64.getEncoder.encodeToString(bytes)
    }
    TxManifest(0, "", files = named, stats = footers.flatMap(_._1), rows = footers.flatMap(_._2),
      blooms = probed.collect { case (rel, i, bits) if i < nb =>
        (rel, index.blooms(i), BloomM, BloomK, bitset(bits)) },
      vsets = probed.collect { case (rel, i, vs) if i >= nb =>
        (rel, index.sets(i - nb), vs.sorted) })
  }

  /** Snapshot read of version `v` — exactly its manifest's files, as
    * an explicit path list (no directory listing, no extra files),
    * through the snapshot semantics: mergeSchema for evolved
    * snapshots, merge-on-read deletion-vector anti-join, logical
    * projection under a column mapping.
    */
  def readVersion(spark: SparkSession, table: String, v: Int): DataFrame = {
    val files = filesOf(spark, table, v)
    if (files.isEmpty) {
      // a legitimate empty snapshot (e.g. a delete-all) reads as an
      // empty frame with the schema the manifest recorded at commit
      // time (the Delta empty-snapshot semantics); only a pre-schema
      // manifest with no files is unreadable and refuses loudly
      val st = manifestSchema(spark, table, v).getOrElse(
        sys.error(s"TxTable: version $v of $table is empty and its manifest " +
          "records no schema (pre-schema manifest)"))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
    }
    snapshotRead(spark, table, v, files)
  }

  /** Latest-snapshot read. */
  def read(spark: SparkSession, table: String): DataFrame =
    readVersion(spark, table, currentVersion(spark, table))

  /** Per-file data-skipping stats of version `v`'s snapshot: (file,
    * column, min, max), resolved through the delta-log. A file has
    * entries for the range-stats and null-count columns its table
    * declared when the file was added.
    */
  def statsOf(spark: SparkSession, table: String, v: Int): Seq[(String, String, Double, Double)] =
    snapshotOf(spark, table, v).stats

  /** Skipping read: the rows of version `version` (default: the head)
    * that satisfy `predicate`. Reads ONLY the files [[keptFiles]] keeps,
    * then applies the exact predicate, so planning and IO scale with the
    * files that can match, not the snapshot. When no file can match, the
    * result is an empty frame with the snapshot's columns, planned over
    * at most one file ([[readKept]]).
    */
  def scan(spark: SparkSession, table: String, predicate: Column,
           version: Int = -1): DataFrame = {
    val v = if (version > 0) version else currentVersion(spark, table)
    readKept(spark, table, v, keptFiles(spark, table, v, predicate)).filter(predicate)
  }

  /** THE file-skipping decision: the files of version `v` that
    * `predicate` can touch, from the manifest alone. The predicate is
    * analyzed against the snapshot's logical schema (so comparisons
    * carry Spark's own types and implicit casts) and walked once; a file
    * is skipped only when a stat recorded for it refutes an `And`
    * conjunct, or refutes both branches of an `Or`:
    *  - `=` and `IN` on the string form (a string column, or any column
    *    cast to string, against constants): value set, bloom, the
    *    identity-partition directory and the `bucket16` hidden-layout
    *    directory ([[hiddenValueOf]] of a probe), each admitting any probe;
    *  - `=`, `IN`, `>=`, `>`, `<=`, `<` (so `between`) on a
    *    [[rangeTyped]] column against numeric constants: [min, max];
    *  - `IS NULL` / `IS NOT NULL`: null count, and row count for the
    *    all-null test (positional deletes only remove rows).
    * Any other node, an unresolvable predicate and a missing stat keep
    * the file. A probe is a constant as the analyzed predicate
    * compares it, a string from Spark's own cast-to-string — what the
    * executor-built value sets and blooms hashed (a driver-side
    * toString diverges for e.g. timestamps, and a diverged probe is a
    * false negative: files wrongly skipped, rows silently missed).
    */
  private[graft] def keptFiles(spark: SparkSession, table: String, v: Int,
                               predicate: Column): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val snap = snapshotOf(spark, table, v)
    if (snap.files.isEmpty) return Nil
    def phys(a: AttributeReference): String = physOf(snap.map, a.name)
    object Const {
      def unapply(e: Expression): Option[Any] =
        if (!e.foldable) None else scala.util.Try(e.eval()).toOption.flatMap(Option(_))
    }
    object StrCol {
      def unapply(e: Expression): Option[String] = e match {
        case a: AttributeReference if a.dataType == StringType => Some(phys(a))
        case Cast(a: AttributeReference, StringType, _, _) => Some(phys(a))
        case _ => None
      }
    }
    // stats are doubles: the analyzer's widening cast to double keeps
    // their order (BIGINT stats past 2^53 are widened outward at commit)
    object NumCol {
      def unapply(e: Expression): Option[String] = e match {
        case a: AttributeReference if rangeTyped(a.dataType) => Some(phys(a))
        case Cast(a: AttributeReference, DoubleType, _, _) if rangeTyped(a.dataType) =>
          Some(phys(a))
        case _ => None
      }
    }
    def range(c: String)(ok: (Double, Double) => Boolean): String => Boolean = {
      val byFile = snap.stats.collect { case (fl, `c`, lo, hi) => fl -> (lo, hi) }.toMap
      fl => byFile.get(fl).forall(ok.tupled)
    }
    def nulls(c: String, wantNull: Boolean): String => Boolean = {
      val counts = snap.stats.collect { case (fl, k, n, _) if k == c + "#nulls" => fl -> n }.toMap
      val rows = snap.rows.toMap
      fl => counts.get(fl).forall(n => if (wantNull) n > 0 else rows.get(fl).forall(n < _))
    }
    // a file outside the layout is kept
    def stringIn(c: String, probes: Seq[String]): String => Boolean = {
      val sets = snap.vsets.collect { case (fl, `c`, vs) => fl -> vs }.toMap
      val bloom = bloomAdmits(snap, c, probes)
      val probe = probes.toSet
      val dirs = layoutDirs(snap, c).map { case (pc, dirOf) => pc -> probes.map(dirOf).toSet }
      fl => sets.get(fl).forall(_.exists(probe)) && bloom(fl) &&
        dirs.forall { case (pc, ok) => partValueOf(pc, fl).forall(ok) }
    }
    def numIn(c: String, probes: Seq[Double]): String => Boolean =
      range(c)((lo, hi) => probes.exists(x => !(hi < x) && !(lo > x)))
    val keepAll: String => Boolean = _ => true
    // `e` equal to any of the constants `ps`; a NULL constant never matches
    def anyOf(e: Expression, ps: Seq[Any]): String => Boolean = e match {
      case StrCol(c) if ps.forall(p => p == null || p.isInstanceOf[UTF8String]) =>
        stringIn(c, ps.collect { case u: UTF8String => u.toString })
      case NumCol(c) if ps.forall(p => p == null || p.isInstanceOf[java.lang.Number]) =>
        numIn(c, ps.collect { case x: java.lang.Number => x.doubleValue })
      case _ => keepAll
    }
    def allows(e: Expression): String => Boolean = e match {
      case And(l, r) =>
        val (a, b) = (allows(l), allows(r))
        fl => a(fl) && b(fl)
      case Or(l, r) =>
        val (a, b) = (allows(l), allows(r))
        fl => a(fl) || b(fl)
      case EqualTo(l, Const(x)) => anyOf(l, Seq(x))
      case In(l, list) if list.forall(_.foldable) =>
        scala.util.Try(list.map(_.eval())).toOption.fold(keepAll)(anyOf(l, _))
      case GreaterThanOrEqual(NumCol(c), Const(x: java.lang.Number)) =>
        range(c)((_, hi) => !(hi < x.doubleValue))
      case GreaterThan(NumCol(c), Const(x: java.lang.Number)) =>
        range(c)((_, hi) => !(hi <= x.doubleValue))
      case LessThanOrEqual(NumCol(c), Const(x: java.lang.Number)) =>
        range(c)((lo, _) => !(lo > x.doubleValue))
      case LessThan(NumCol(c), Const(x: java.lang.Number)) =>
        range(c)((lo, _) => !(lo >= x.doubleValue))
      case IsNull(a: AttributeReference) => nulls(phys(a), wantNull = true)
      case IsNotNull(a: AttributeReference) => nulls(phys(a), wantNull = false)
      case _ => keepAll
    }
    scala.util.Try(analyzed(spark, table, v, predicate).head).toOption
      .fold(snap.files)(cond => snap.files.filter(allows(cond)))
  }

  /** The layout of `snap` that a string-form probe of physical column
    * `c` prunes, with the directory a probe lands in: an identity layout
    * by `c` (the probe itself) or a `bucket16` layout of `c`
    * ([[hiddenValueOf]] of the probe). A bucket of a column whose string
    * form holds a TIMESTAMP is none: its directory hashed that form under
    * the session zone at commit, which the manifest does not record, so
    * a probe rendered under another zone would skip matching files.
    */
  private def layoutDirs(snap: TxManifest, c: String): Seq[(String, String => String)] = {
    import org.apache.spark.sql.types._
    def zoned(t: DataType): Boolean = t match {
      case TimestampType => true
      case s: StructType => s.fields.exists(f => zoned(f.dataType))
      case a: ArrayType => zoned(a.elementType)
      case m: MapType => zoned(m.keyType) || zoned(m.valueType)
      case _ => false
    }
    def zoneFree: Boolean = snap.schema.map(StructType.fromDDL)
      .flatMap(_.find(_.name == logicalOf(snap.map, c))).exists(f => !zoned(f.dataType))
    snap.part.toSeq.flatMap { pc =>
      if (pc == c) Some(pc -> ((p: String) => p))
      else hiddenSpecOf(pc).collect { case ("bucket16", `c`) if zoneFree =>
        pc -> ((p: String) => hiddenValueOf(pc, p)) }
    }
  }

  /** `predicate` and `exprs`, in logical names, analyzed against version
    * `v`'s logical schema: Spark's own resolution, types and implicit
    * casts, and Spark's AnalysisException for a name the snapshot lacks.
    * The head is the predicate's condition, the tail `exprs` in order.
    */
  private def analyzed(spark: SparkSession, table: String, v: Int, predicate: Column,
                       exprs: Seq[Column] = Nil): Seq[Expression] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    val schema = manifestSchema(spark, table, v).getOrElse(readVersion(spark, table, v).schema)
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      .filter(predicate).select(exprs: _*).queryExecution.analyzed match {
      case Project(list, Filter(cond, _)) =>
        cond +: list.map { case Alias(e, _) => e; case e => e }
      case plan => sys.error(s"TxTable: unexpected predicate plan $plan")
    }
  }

  /** The read tail of every skipping reader: `kept` of version `v`'s
    * files through [[snapshotRead]]. An empty `kept` (nothing can
    * match) reads as an empty frame with the snapshot's columns and
    * types, planned over the snapshot's first file only — except an
    * evolved (mergeSchema) snapshot, whose columns are the union of all
    * its files' and so plans them all.
    */
  private def readKept(spark: SparkSession, table: String, v: Int,
                       kept: Seq[String]): DataFrame =
    if (kept.nonEmpty) snapshotRead(spark, table, v, kept)
    else {
      val first = filesOf(spark, table, v).take(1)
      (if (first.isEmpty || msOf(spark, table, v)) readVersion(spark, table, v)
       else snapshotRead(spark, table, v, first)).limit(0)
    }

  /** Point read on the string rendering: [[scan]] of
    * `cast(colName as string) = value` — value sets, blooms and the
    * partition directory prune it (a needle-in-100-TB id lookup reads
    * only the files that admit the key, never a false negative).
    */
  def readWhereKey(spark: SparkSession, table: String, colName: String,
                   value: String, version: Int = -1): DataFrame =
    scan(spark, table, col(colName).cast("string") === value, version)

  /** Per-file bloom entries of version `v`: (file, column, m, k,
    * base64 bits). m/k ride each entry so the GEOMETRY can evolve —
    * readers derive probe bits from the entry's recorded values, never
    * the current constants (a raised BloomM must not index past an old
    * table's 512-byte bitset, and a lowered one must not silently
    * break the no-false-negative guarantee).
    */
  private[graft] def bloomEntries(spark: SparkSession, table: String,
                                  v: Int): Seq[(String, String, Int, Int, String)] =
    snapshotOf(spark, table, v).blooms

  /** Merge-on-read deletion-vector sidecars of version `v`'s snapshot.
    * Empty for snapshots with no outstanding merge-on-read deletes.
    */
  def posDeletesOf(spark: SparkSession, table: String, v: Int): Seq[String] =
    snapshotOf(spark, table, v).posd

  /** Per-file value-set skipping entries of version `v`: (file,
    * physical column, distinct values), for the value-set columns the
    * table declared when each file was added; none for files exceeding
    * [[VsetMaxValues]].
    */
  def valueSetsOf(spark: SparkSession, table: String,
                  v: Int): Seq[(String, String, Seq[String])] =
    snapshotOf(spark, table, v).vsets

  /** METADATA-ONLY `COUNT(*)` (the Delta/Iceberg log-answered count):
    * sum of the manifest-recorded per-file row counts minus the
    * outstanding deletion-vector pairs (each pair is EXACTLY one row,
    * so the adjustment is exact). ZERO data-file IO — on a 10⁶-file
    * table this is a manifest read, not a 100 TB scan.
    *
    * Refuses LOUDLY (rather than degrade to a scan silently) when a
    * file has no recorded count (added while the table declared no row
    * counts). Callers fall back to `read(...).count()`.
    */
  def metaCount(spark: SparkSession, table: String, version: Int = -1): Long = {
    val v = if (version > 0) version else currentVersion(spark, table)
    metaFileCounts(spark, table, v).map(_._2).sum
  }

  /** [[metaCount]] grouped by partition value for a hive-partitioned
    * layout — `SELECT part, COUNT(*) GROUP BY part` answered from the
    * manifest alone (the partition value is IN the file path). Same
    * refusal rules as [[metaCount]].
    */
  def metaCountByPartition(spark: SparkSession, table: String,
                           version: Int = -1): Seq[(String, Long)] = {
    val v = if (version > 0) version else currentVersion(spark, table)
    val pc = partColOf(spark, table, v).getOrElse(
      sys.error(s"TxTable: $table v$v has no partitioned layout"))
    def valOf(rel: String): String = {
      val pv = partValueOf(pc, rel)
      require(pv.isDefined, s"TxTable: file $rel is outside the $pc= partition layout")
      pv.get
    }
    metaFileCounts(spark, table, v)
      .groupBy { case (rel, _) => valOf(rel) }
      .map { case (pv, fs) => (pv, fs.map(_._2).sum) }
      .toSeq.sortBy(_._1)
  }

  /** Shared derivation of (file, live rows) from the manifest: recorded
    * count per file minus its deletion-vector pairs. One tiny parquet
    * read over the posd SIDECARS only (they are pair-sized, never
    * data-sized) when vectors are outstanding; zero reads otherwise.
    */
  private def metaFileCounts(spark: SparkSession, table: String,
                             v: Int): Seq[(String, Long)] = {
    val files = filesOf(spark, table, v)
    val counts = snapshotOf(spark, table, v).rows.toMap
    val missing = files.filterNot(counts.contains)
    require(missing.isEmpty,
      s"TxTable: ${missing.size} of ${files.size} files at $table v$v have no " +
      s"recorded row count (first: ${missing.headOption.getOrElse("")}) — " +
      "declare countRows = true to record them; falling back to a scan " +
      "is the caller's call, not a silent default")
    val posd = posDeletesOf(spark, table, v)
    val deleted: Map[String, Long] =
      if (posd.isEmpty) Map.empty
      else posPairs(spark, table, posd)
        .groupBy(col("_graft_pf")).agg(count(lit(1)).as("_n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    files.map { rel =>
      val base = rel.substring(rel.lastIndexOf('/') + 1)
      rel -> (counts(rel) - deleted.getOrElse(base, 0L))
    }
  }

  /** Column mapping of version `v`'s snapshot — (logical, physical)
    * per live column, in schema order. None = identity (no rename/drop
    * ever happened, or a snapshot-replacing op reset it).
    */
  private[graft] def colMapOf(spark: SparkSession, table: String,
                              v: Int): Option[Seq[(String, String)]] =
    manifestOf(spark, table, v).map

  /** Physical name of a logical column under a mapping (identity when
    * unmapped). Data files, skipping stats and blooms all live in
    * PHYSICAL names; user-facing arguments are LOGICAL.
    */
  private def physOf(map: Option[Seq[(String, String)]], name: String): String =
    map.flatMap(_.collectFirst { case (n, p) if n == name => p }).getOrElse(name)

  /** PHYSICAL partition column of version `v`'s layout, if the
    * snapshot was committed with `partitionBy` (hive-style
    * `data/<col>=<val>/` directories). Scalar manifest field, like
    * op/schema/map.
    */
  def partColOf(spark: SparkSession, table: String, v: Int): Option[String] =
    manifestOf(spark, table, v).part

  /** The raw per-file reader every physical path shares: mergeSchema
    * for evolved snapshots; for a PARTITIONED layout the hive
    * `basePath` so the partition column re-derives from the directory
    * names. No merge-on-read filter, no logical projection — those
    * layer on in [[snapshotRead]].
    */
  private def rawRead(spark: SparkSession, table: String, v: Int,
                      files: Seq[String]): DataFrame = {
    val ms = msOf(spark, table, v)
    val rd0 = if (ms) spark.read.option("mergeSchema", "true") else spark.read
    val paths = files.map(rel => dataPath(table, rel))
    // non-evolved snapshots are schema-uniform by the commit gate, so a
    // driver-side footer read replaces the inference job — the same
    // single-footer sample plain inference takes anyway
    def dataSchema: StructType =
      if (ms) rd0.parquet(paths: _*).schema
      else graft.core.ParquetFooters.schemaOf(spark, paths.head)
    partColOf(spark, table, v) match {
      case None =>
        if (ms || paths.isEmpty) rd0.parquet(paths: _*)
        else rd0.schema(dataSchema).parquet(paths: _*)
      case Some(pc) =>
        val logicalName = logicalOf(colMapOf(spark, table, v), pc)
        val dt = manifestSchema(spark, table, v)
          .flatMap(st => st.fields.find(_.name == logicalName).map(_.dataType))
        val hive = rd0.option("basePath", s"$table/data")
        dt match {
          case Some(t) if paths.nonEmpty =>
            // ONE partition-value rule, evolved or not: the directory
            // string parses as the manifest type (the user-schema
            // partition parse), never as an inferred type cast back —
            // inference reads the string partition '01' as '1'. The
            // partition column goes LAST, Spark's data ++ partition
            // column order.
            hive.schema(StructType(dataSchema.fields.filterNot(_.name == pc) :+
              org.apache.spark.sql.types.StructField(pc, t, true))).parquet(paths: _*)
          case _ => hive.parquet(paths: _*) // pre-schema manifest: inferred
        }
    }
  }

  /** The merge-on-read filter of version `v` over a raw per-file frame:
    * an anti-join that drops every (file, row ordinal) pair its
    * deletion-vector sidecars record. The ordinal is parquet's stable
    * in-file row index (`_metadata.row_index`), so the filter is
    * schema-independent — no key column, a long-equality test per row —
    * and composes with any column mapping or evolution. Sidecars are
    * kilobyte-scale parquet, so the planner broadcasts them off file
    * statistics; a snapshot without deletes pays nothing. Every
    * physical read (snapshot, delete candidates, compaction rewrites,
    * CDC inserts) goes through this so no path resurrects deleted rows.
    */
  private def morFilter(spark: SparkSession, table: String, v: Int,
                        base: DataFrame): DataFrame = {
    val posd = posDeletesOf(spark, table, v)
    if (posd.isEmpty) base else byPosition(base, posPairs(spark, table, posd), "left_anti")
  }

  /** The (file name `_graft_pf`, row ordinal `_graft_pp`) pairs that
    * deletion-vector sidecars `posd` record.
    */
  private def posPairs(spark: SparkSession, table: String, posd: Seq[String]): DataFrame = {
    val paths = posd.map(rel => dataPath(table, rel))
    spark.read
      .schema(graft.core.ParquetFooters.schemaOf(spark, paths.head))
      .parquet(paths: _*)
      .select(col("_gf").as("_graft_pf"), col("_gp").as("_graft_pp"))
  }

  /** The rows of raw per-file frame `base` whose (file, row ordinal) is
    * in [[posPairs]] frame `pairs` (`how` = "left_semi") or is not
    * ("left_anti").
    */
  private def byPosition(base: DataFrame, pairs: DataFrame, how: String): DataFrame = {
    val withF = base.withColumn("_graft_pos_file", fileName)
      .withColumn("_graft_pos_ri", col("_metadata.row_index"))
    withF.join(pairs, withF("_graft_pos_file") === col("_graft_pf") &&
        withF("_graft_pos_ri") === col("_graft_pp"), how)
      .drop("_graft_pos_file", "_graft_pos_ri")
  }

  /** The data-file name of each row of a raw per-file read. */
  private def fileName: Column = element_at(split(col("_metadata.file_path"), "/"), -1)

  /** One snapshot read over an explicit subset of version `v`'s files:
    * mergeSchema for evolved snapshots, partition-column re-derivation
    * for partitioned layouts, the deletion-vector anti-join, logical
    * projection. Shared by [[readVersion]] and the pruned
    * readers so no path can resurrect merge-on-read-deleted rows or
    * leak physical names.
    */
  private def snapshotRead(spark: SparkSession, table: String, v: Int,
                           files: Seq[String]): DataFrame = {
    val base = rawRead(spark, table, v, files)
    val live = morFilter(spark, table, v, base)
    val mapped = colMapOf(spark, table, v).fold(live)(m =>
      live.select(m.map { case (n, p) => col(p).as(n) }: _*))
    // partitioned layout: conform column ORDER to the recorded schema
    // (path-derived partition columns surface last on a hive read)
    if (partColOf(spark, table, v).isEmpty) mapped
    else manifestSchema(spark, table, v).fold(mapped)(st =>
      mapped.select(st.fieldNames.filter(mapped.columns.contains)
        .map(col).toIndexedSeq: _*))
  }

  /** Driver-side mirror of the distributed bloom-bit derivation:
    * portable md5 base hash of the string rendering, k affine
    * variants mod m — byte-identical to the Column path and the
    * oracle SQL. Geometry comes from the manifest ENTRY, not the
    * current constants.
    */
  private[graft] def bloomBitsOf(value: String, m: Int, k: Int): Seq[Int] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(value.getBytes("UTF-8"))
    val prefix = java.lang.Long.parseLong(
      digest.take(4).map("%02x".format(_)).mkString, 16)
    val h = java.lang.Math.floorMod(prefix, graft.functions.Hashing.PortableP)
    (0 until k).map { j =>
      val a = graft.functions.Hashing.affineA(j)
      val b = graft.functions.Hashing.affineB(j)
      (java.lang.Math.floorMod(a * h + b, graft.functions.Hashing.PortableP) % m).toInt
    }.distinct
  }

  /** Whether a file's bloom on physical column `c` can hold any of
    * `probes` — the one bloom test, behind [[keptFiles]]' `=` and `IN`
    * atoms (the key-set writes reach it through them). Each probe is
    * hashed ONCE per recorded bloom geometry (md5 is the expensive part;
    * per-(file, probe) hashing would be files × probes digests), so the
    * per-file test is pure bit tests. A file without a bloom on `c` is
    * admitted.
    */
  private def bloomAdmits(snap: TxManifest, c: String,
                          probes: Seq[String]): String => Boolean = {
    val blooms = snap.blooms.collect { case (fl, `c`, m, k, b64) =>
      fl -> (m, k, java.util.Base64.getDecoder.decode(b64)) }.toMap
    val bitsByGeom = blooms.values.map { case (m, k, _) => (m, k) }.toSet
      .map { g: (Int, Int) => g -> probes.map(bloomBitsOf(_, g._1, g._2)) }.toMap
    fl => blooms.get(fl).forall { case (m, k, bytes) =>
      bitsByGeom((m, k)).exists(_.forall(b => (bytes(b >> 3) & (1 << (b & 7))) != 0))
    }
  }

  /** Row-level DELETE, copy-on-write (the Delta default path) of the
    * rows where `predicate` is TRUE (a NULL keeps the row, as in SQL).
    * Files [[keptFiles]] skips are carried into the new version
    * untouched (same relative paths — zero IO, zero write amplification
    * on them); only the candidates are read, filtered to the survivors,
    * and rewritten — at 100 TB a point delete rewrites megabytes. Old
    * files stay for time travel until vacuumed; `changes()` reads the
    * version as remove+add of the rewritten subset only.
    *
    * @return (version, nRewrittenFiles, nCarriedFiles) — version
    *         unchanged with 0 rewrites when no file can match (Delta's
    *         no-op rule: nothing is committed)
    */
  def deleteWhere(spark: SparkSession, table: String, predicate: Column): (Int, Int, Int) =
    copyOnWrite(spark, table, predicate, "delete", Nil)((rows, hit, _, _) => rows.filter(!hit))

  /** Row-level UPDATE, COPY-ON-WRITE (the Delta/Iceberg CoW UPDATE
    * shape): rewrite ONLY the files whose stats admit a `predicate`
    * match, applying `assign` to the matching rows and carrying every
    * other file by reference — a point update on a 100 TB table costs
    * one stats-pruned candidate rewrite, never a snapshot rewrite.
    * SQL UPDATE semantics: rows where the predicate is NULL keep their
    * original values; non-matching rows in rewritten files copy
    * through unchanged. Commits as op "update" — [[changes]] surfaces
    * the churn as delete-of-candidates + insert-of-rewrites (the
    * Iceberg CDC rule for CoW updates).
    *
    * `assign` maps column names to replacement expressions evaluated on
    * the matched row as it was before the update. Targets, expressions
    * and the predicate are all in logical names.
    *
    * @return (version, nRewrittenFiles, nCarriedFiles) — version
    *         unchanged with 0 rewrites when no file can match
    */
  def updateWhere(spark: SparkSession, table: String, predicate: Column,
                  assign: Map[String, Column]): (Int, Int, Int) = {
    require(assign.nonEmpty, "updateWhere needs at least one assignment")
    val (names, exprs) = assign.toSeq.unzip
    copyOnWrite(spark, table, predicate, "update", exprs) { (rows, hit, bound, phys) =>
      val out = rows.queryExecution.analyzed.output
      val byTarget = names.map { n =>
        val p = phys(n)
        require(out.exists(_.name == p), s"TxTable: updateWhere target column '$n' not in $table")
        p
      }.zip(bound).toMap
      rows.select(out.map { a =>
        val c = ColumnBridge.column(a)
        byTarget.get(a.name).fold(c)(e => when(hit, e).otherwise(c).as(a.name))
      }: _*)
    }
  }

  /** The copy-on-write body of [[deleteWhere]] and [[updateWhere]]: the
    * head's [[matched]] candidates of `predicate`, rewritten by `step`
    * (their live physical rows, the match test, `exprs` bound to them,
    * the logical → physical name map) and committed as `op` with every
    * other file carried.
    */
  private def copyOnWrite(spark: SparkSession, table: String, predicate: Column, op: String,
                          exprs: Seq[Column])(
      step: (DataFrame, Column, Seq[Column], String => String) => DataFrame): (Int, Int, Int) = {
    val v = currentVersion(spark, table)
    require(v >= 1, s"TxTable: cannot $op non-existent table $table")
    val all = filesOf(spark, table, v)
    matched(spark, table, v, predicate, exprs).fold((v, 0, all.size)) {
      case (touch, rows, hit, bound) =>
        val untouched = all.filterNot(touch.toSet)
        val nv = commitAs(step(rows, hit, bound, physOf(colMapOf(spark, table, v), _)),
          table, v + 1, op,
          carryFiles = Some(untouched), dfIsPhysical = true)
        (nv, touch.size, untouched.size)
    }
  }

  /** What a predicate writer touches at version `v`: the files
    * [[keptFiles]] keeps, their live rows (a raw per-file read through
    * [[morFilter]]: physical names, `_metadata` reachable, no deleted
    * row resurrected by a rewrite), the match test (NULL as false) and
    * `exprs`, the last two [[analyzed]] in logical names first — a name
    * the snapshot lacks throws before anything is written — then bound
    * to the rows' physical columns. None when no file can match.
    */
  private def matched(spark: SparkSession, table: String, v: Int, predicate: Column,
                      exprs: Seq[Column]): Option[(Seq[String], DataFrame, Column, Seq[Column])] = {
    val logical = analyzed(spark, table, v, predicate, exprs)
    val touch = keptFiles(spark, table, v, predicate)
    if (touch.isEmpty) return None
    val rows = morFilter(spark, table, v, rawRead(spark, table, v, touch))
    val map = colMapOf(spark, table, v)
    val out = rows.queryExecution.analyzed.output
    val bound = logical.map(e => ColumnBridge.column(e.transform {
      case a: AttributeReference => out.find(_.name == physOf(map, a.name)).getOrElse(a)
    }))
    Some((touch, rows, coalesce(bound.head, lit(false)), bound.tail))
  }

  /** The files of version `v` that can hold ANY of `keys` in logical
    * column `keyCol` — the shared candidate-pruning step of the
    * key-addressed writes ([[deleteKeysMor]], [[appendUnique]]):
    * [[keptFiles]] of `cast(keyCol as string) IN (keys)`, so blooms,
    * value sets and the identity or bucket layout directory prune it.
    * ALL files, with no collect, when the column has no bloom, no value
    * set and no layout; all files too when the probe exceeds the bounded
    * driver collect (big batches amortize a full semi-join scan anyway).
    * NULL keys never match an equality join — dropped from the probe.
    */
  private def bloomCandidateFiles(spark: SparkSession, table: String, v: Int,
                                  keyCol: String, keys: DataFrame): Seq[String] = {
    val snap = snapshotOf(spark, table, v)
    val physKey = physOf(snap.map, keyCol)
    if (!snap.blooms.exists(_._2 == physKey) && !snap.vsets.exists(_._2 == physKey) &&
        layoutDirs(snap, physKey).isEmpty)
      return snap.files
    val probe = keys
      .select(keys.col(keys.columns.head).cast("string").as("_graft_pk"))
      .filter(col("_graft_pk").isNotNull)
      .limit(10001).collect().map(_.getString(0))
    if (probe.length > 10000) snap.files
    else keptFiles(spark, table, v, col(keyCol).cast("string").isin(probe.toIndexedSeq: _*))
  }

  /** UNIQUE-KEY-ENFORCED APPEND (INSERT ... ON CONFLICT DO NOTHING /
    * the Delta "insert-only merge" idempotent-ingest shape): append
    * only the batch rows whose `keyCol` does not already exist in the
    * table; in-batch duplicates collapse to one row (first by key,
    * arbitrary deterministic within Spark's dropDuplicates). The
    * existence check is manifest-bloom-pruned: only files whose bloom
    * can contain a batch key are read, and only the KEY COLUMN of
    * those (column-pruned scan) — on a bloomed table a small batch
    * probes a handful of files, never the snapshot. The inserted files
    * get the table's declared skipping entries; `bloomCols` and
    * `countRows` declare more, as in [[commit]] (the way to index a
    * table this call creates). Returns (version, rows actually
    * inserted). A fully-duplicate batch is a NO-OP (no commit — Delta's
    * empty-transaction rule), returning (v, 0).
    */
  def appendUnique(df: DataFrame, table: String, keyCol: String,
                   bloomCols: Seq[String] = Nil,
                   countRows: Boolean = false): (Int, Long) = {
    val spark = df.sparkSession
    val v = currentVersion(spark, table)
    val batch = df.dropDuplicates(keyCol)
    val fresh =
      if (v < 1) batch
      else {
        val cand = bloomCandidateFiles(spark, table, v, keyCol, batch.select(keyCol))
        if (cand.isEmpty) batch
        else {
          val existing = snapshotRead(spark, table, v, cand)
            .select(col(keyCol))
          batch.join(existing, Seq(keyCol), "left_anti")
        }
      }
    // the anti-join re-evaluates inside commit's write; a cheap
    // localCheckpoint would hide the no-op probe, so count once and
    // reuse the materialized frame for both the gate and the write
    val staged = fresh.localCheckpoint(true)
    val n = staged.count()
    if (n == 0L) return (math.max(v, 0), 0L)
    val nv = commit(staged, table, "append", bloomCols = bloomCols, countRows = countRows)
    (nv, n)
  }

  /** Key-SET merge-on-read delete — the CDC-apply form of
    * [[deleteWherePos]]: delete every row of the current snapshot
    * whose `keyCol` appears in `keys` (one column, same type), as
    * deletion-vector pairs. The scan is BLOOM-ACCELERATED when the
    * table indexes `keyCol` and the batch is small (each key probes
    * the per-file blooms driver-side — a needle-batch delete reads the
    * handful of admitting files, not the snapshot); otherwise one
    * semi-join pass over the snapshot, the standard index-less
    * CDC-apply cost. NULL keys match nothing. Naturally IDEMPOTENT:
    * already-deleted rows never re-match (the scan reads through
    * existing vectors), so a replayed delete batch is a no-op — and an
    * optional `txn` marker records (appId, batchId) in the manifest
    * for [[txnVersionOf]]-gated exactly-once composition (the
    * streaming mirror uses it to never re-delete rows a later version
    * re-inserted).
    *
    * @return (version, nDeletedRows) — current version with 0 on an
    *         empty match
    */
  def deleteKeysMor(spark: SparkSession, table: String, keyCol: String,
                    keys: DataFrame,
                    txn: Option[(String, Long)] = None): (Int, Long) = {
    val v = currentVersion(spark, table)
    require(v >= 1, s"TxTable: cannot delete from non-existent table $table")
    require(keys.columns.length == 1,
      s"TxTable.deleteKeysMor: keys must be a single-column frame, got " +
      keys.columns.mkString(", "))
    val physKey = physOf(colMapOf(spark, table, v), keyCol)
    val candidates = bloomCandidateFiles(spark, table, v, keyCol, keys)
    if (candidates.isEmpty) return (v, 0L)
    val cand = morFilter(spark, table, v, rawRead(spark, table, v, candidates))
    val dk = keys.toDF("_graft_dk")
    publishSidecar(spark, table, v,
      cand.join(dk, cand(physKey) === col("_graft_dk"), "left_semi"), txn)
  }

  /** Shared publish tail of the merge-on-read deletes: write the (file
    * name `_gf`, row ordinal `_gp`) pair of every `matched` row — a
    * raw per-file read, read through [[morFilter]] so already-deleted
    * rows never re-record — as deletion-vector sidecar files
    * (`data/v<N>_p<i>_<nonce>` — versioned names ride the same vacuum
    * protocol as data files, and the in-flight skip covers a racing
    * delete's sidecars), then publish a manifest-only "posdelete"
    * version that adds them to the head's `posd`: every data file,
    * stat, bloom, value set, mapping and prior sidecar carries verbatim
    * (the "zero files rewritten" property an auditor checks; the
    * O(delta) form between checkpoints). Empty match → no commit
    * (Delta's no-op rule).
    *
    * @return (version, nPairs) — the head with 0 on an empty match
    */
  private def publishSidecar(spark: SparkSession, table: String, v: Int,
                             matched: DataFrame,
                             txn: Option[(String, Long)]): (Int, Long) = {
    val f = fs(spark, table)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(s"$table/_tmp_v${v + 1}_$nonce")
    matched.select(fileName.as("_gf"), col("_metadata.row_index").as("_gp"))
      .write.mode("overwrite").parquet(tmp.toString)
    val parts = f.listStatus(tmp).map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    f.mkdirs(new Path(s"$table/data"))
    val named = parts.zipWithIndex.map { case (p, i) =>
      val rel = s"data/v${v + 1}_p${i}_$nonce.parquet"
      require(f.rename(p, new Path(s"$table/$rel")), s"rename failed for $p")
      rel
    }.toSeq
    f.delete(tmp, true)
    val nPairs = // exact from footers, no scan job (just-written files)
      if (named.isEmpty) 0L
      else graft.core.ParquetFooters.rowCount(spark, named.map(rel => s"$table/$rel"))
    if (nPairs == 0L) { // no actual match: no-op
      named.foreach(rel => f.delete(new Path(s"$table/$rel"), false))
      return (v, 0L)
    }
    val head = withSchema(snapshotOf(spark, table, v), readVersion(spark, table, v))
    publishOrConflict(f, table, Some(head), head.copy(version = v + 1, op = "posdelete",
      txn = txn, posd = head.posd ++ named))
    (v + 1, nPairs)
  }

  /** `m` with a recorded schema: a pre-schema manifest takes its
    * snapshot read's, best-effort.
    */
  private def withSchema(m: TxManifest, read: => DataFrame): TxManifest =
    if (m.schema.isDefined) m
    else m.copy(schema = scala.util.Try(read.schema.toDDL).toOption)

  /** Row-level DELETE, MERGE-ON-READ via DELETION VECTORS (the
    * Delta/Iceberg deletion-vector shape): ZERO data files are
    * rewritten — the delete writes a sidecar of (data-file, row
    * ORDINAL) pairs for the rows where `predicate` is TRUE, and every
    * snapshot read anti-joins the sidecar before projecting. The
    * write-amplification asymmetry vs [[deleteWhere]] (copy-on-write):
    * a point delete on a 100 TB table costs one stats-pruned candidate
    * scan plus a kilobyte-scale sidecar write; reads pay one broadcast
    * anti-join on a long ordinal until OPTIMIZE folds the vectors away
    * ([[compact]] with its defaults reads through the filter and sheds
    * the sidecars; `compact(where, minBytes)` applies them to the files
    * it rewrites and carries them for the rest). The form is
    * SCHEMA-INDEPENDENT: no key column, NULL keys are fine, and it
    * composes with any mapping or evolution.
    * Semantics match the CoW path: NULL-predicate rows are kept, rows
    * already deleted are not re-recorded, appends after the delete are
    * UNAFFECTED (vectors are per-file, never a key blocklist).
    *
    * @return (version, nDeletedRows) — the current version with 0 when
    *         no candidate row matches (Delta's no-op rule)
    */
  def deleteWherePos(spark: SparkSession, table: String, predicate: Column): (Int, Long) = {
    val v = currentVersion(spark, table)
    require(v >= 1, s"TxTable: cannot delete from non-existent table $table")
    matched(spark, table, v, predicate, Nil).fold((v, 0L)) { case (_, rows, hit, _) =>
      publishSidecar(spark, table, v, rows.filter(hit), None)
    }
  }

  /** Metadata-only column RENAME (the Delta column-mapping rename):
    * publishes a new version whose manifest carries every file, stat,
    * bloom, and deletion vector verbatim and only rewrites the (logical →
    * physical) mapping plus the recorded schema — ZERO data IO at any
    * table size. Old and new files both store the column under its
    * original PHYSICAL name; reads project physical → logical; later
    * appends write through the mapping, so file schemas never fork.
    */
  def renameColumn(spark: SparkSession, table: String, from: String,
                   to: String): Int = {
    val v = currentVersion(spark, table)
    require(v >= 1, s"TxTable: cannot rename a column of non-existent table $table")
    val schema = manifestSchema(spark, table, v)
      .getOrElse(readVersion(spark, table, v).schema)
    require(schema.fieldNames.contains(from),
      s"TxTable: no column '$from' at $table v$v " +
      s"(have ${schema.fieldNames.mkString(", ")})")
    require(!schema.fieldNames.contains(to),
      s"TxTable: column '$to' already exists at $table v$v")
    val map0 = colMapOf(spark, table, v)
      .getOrElse(schema.fieldNames.toSeq.map(n => (n, n)))
    // a hidden layout's transform spec names its SOURCE column by
    // physical name baked into every partition directory — renaming
    // the source would desynchronize derive-on-append from the layout
    require(!partColOf(spark, table, v).flatMap(hiddenSpecOf)
        .exists(_._2 == physOf(Some(map0), from)),
      s"TxTable: column '$from' is the source of $table's hidden partition " +
      "layout — rewrite the layout (op=\"overwrite\" with a new partitionBy) first")
    metadataCommit(spark, table, "rename",
      StructType(schema.map(fd => if (fd.name == from) fd.copy(name = to) else fd)),
      map0.map { case (n, p) => (if (n == from) to else n, p) })
  }

  /** Metadata-only column DROP: the column leaves the mapping and the
    * recorded schema; its physical data stays in the immutable files
    * (reads never select it; time travel to pre-drop versions still
    * sees it; a later [[compact]] with its defaults, the full rewrite,
    * physically sheds it). ZERO data IO, like [[renameColumn]].
    */
  def dropColumn(spark: SparkSession, table: String, name: String): Int = {
    val v = currentVersion(spark, table)
    require(v >= 1, s"TxTable: cannot drop a column of non-existent table $table")
    val schema = manifestSchema(spark, table, v)
      .getOrElse(readVersion(spark, table, v).schema)
    require(schema.fieldNames.contains(name),
      s"TxTable: no column '$name' at $table v$v " +
      s"(have ${schema.fieldNames.mkString(", ")})")
    require(schema.size >= 2, s"TxTable: cannot drop the last column of $table")
    val map0 = colMapOf(spark, table, v)
      .getOrElse(schema.fieldNames.toSeq.map(n => (n, n)))
    val phys = physOf(Some(map0), name)
    require(!partColOf(spark, table, v).flatMap(hiddenSpecOf).exists(_._2 == phys),
      s"TxTable: column '$name' is the source of $table's hidden partition " +
      "layout — rewrite the layout (op=\"overwrite\" with a new partitionBy) first")
    metadataCommit(spark, table, "drop",
      StructType(schema.filterNot(_.name == name)),
      map0.filterNot(_._1 == name))
  }

  /** Shared metadata-only publish for rename/drop: files, stats,
    * blooms, deletion vectors, and the ms flag carry verbatim from the head;
    * only the schema and mapping change, and the declared index keeps
    * the physical columns the new mapping still holds (rename keeps
    * them all — names are physical; drop sheds the dropped one, which
    * later files no longer hold). Rides the same CAS as every commit —
    * losing to a concurrent writer refuses loudly.
    */
  private def metadataCommit(spark: SparkSession, table: String, op: String,
                             schema1: StructType,
                             map1: Seq[(String, String)]): Int = {
    val v = currentVersion(spark, table)
    val head = snapshotOf(spark, table, v)
    // O(delta) between checkpoints: the manifest edit is only the new
    // schema + mapping (scalar fields) — rename/drop on a 10⁶-file
    // table writes kilobytes
    val live = map1.map(_._2).toSet
    publishOrConflict(fs(spark, table), table, Some(head), head.copy(version = v + 1,
      op = op, txn = None, schema = Some(schema1.toDDL), map = Some(map1),
      index = head.index.columns(c => Some(c).filter(live))))
    v + 1
  }

  /** Exactly-once commit for replayable writers (the Delta
    * `txnAppId`/`txnVersion` idempotence contract): a commit tagged
    * (appId, batchId) that already exists in a live manifest is NOT
    * re-applied — the streaming foreachBatch retry story, where the
    * engine re-delivers a batch after a crash between "data written"
    * and "offset recorded", and the second delivery must be a no-op.
    *
    * The txn scan reads live MANIFESTS only (bounded by the retention
    * policy — `expireVersions` keeps the scan short; a table retaining
    * N versions scans N small JSON files, no data IO). Two racing
    * writers of the SAME batch: one wins the version CAS, the loser's
    * conflict triggers ONE rescan that finds the winner's txn and
    * returns it as already-applied — never a double apply.
    *
    * `bloomCols` declares blooms as in [[commit]] (the way to index a
    * table the first batch creates, e.g. a CDC mirror).
    *
    * @return (version, applied) — applied=false means the batch was
    *         already committed (by this call's rescan or an earlier run)
    */
  def commitIdempotent(df: DataFrame, table: String, appId: String,
                       batchId: Long, op: String = "append",
                       bloomCols: Seq[String] = Nil): (Int, Boolean) = {
    require(appId.nonEmpty && !appId.exists(c => c == '"' || c == '\\' || c.isControl),
      s"TxTable: appId must be a plain identifier, got '$appId'")
    val spark = df.sparkSession
    def findApplied: Option[Int] = txnVersionOf(spark, table, appId, batchId)
    findApplied match {
      case Some(v) => (v, false)
      case None =>
        try {
          val nv = commitAs(df, table, currentVersion(spark, table) + 1, op,
            TxIndex(blooms = bloomCols), txn = Some((appId, batchId)))
          (nv, true)
        } catch {
          case e: RuntimeException if e.getMessage != null &&
              e.getMessage.contains("commit conflict") =>
            // lost the version race — if the winner WAS this batch
            // (concurrent duplicate delivery), it's applied; anything
            // else is a genuine conflict for the caller's retry loop
            findApplied.map((_, false)).getOrElse(throw e)
        }
    }
  }

  /** The live version that recorded txn marker (appId, batchId), if
    * any — the public read side of [[commitIdempotent]]'s ledger. Lets
    * a composed pipeline gate NON-commit work (e.g. a merge-on-read
    * delete that must not re-run once its version's inserts landed) on
    * the same exactly-once record. Scans live manifests only
    * (retention-bounded, like the idempotence rescan).
    */
  def txnVersionOf(spark: SparkSession, table: String, appId: String,
                   batchId: Long): Option[Int] = {
    liveVersions(spark, table).reverse
      .find(v => manifestOf(spark, table, v).txn.contains((appId, batchId)))
  }

  /** RESTORE (the Delta RESTORE TABLE ... TO VERSION shape): publish a
    * NEW version whose file list is exactly version `toV`'s — a
    * zero-copy rollback (no data is read or written; the restored
    * snapshot references the same immutable files, which is why the
    * manifest design makes undo free). History is preserved: the bad
    * versions stay time-travelable until retention expires them, and
    * `changes()` reads the restore as delete-of-current +
    * insert-of-restored (a full snapshot replace — downstream
    * consumers converge to the rolled-back state).
    *
    * The publish rides the same committer CAS as any commit — a
    * concurrent writer winning the version race fails this restore
    * loudly (rolling back UNDER a live writer must be explicit, not
    * silently interleaved).
    *
    * @return the new (restored) version number
    */
  def restore(spark: SparkSession, table: String, toV: Int): Int = {
    val head = currentVersion(spark, table)
    require(toV >= 1, s"versions start at 1, got $toV")
    require(manifestPath(table, toV).getFileSystem(
        spark.sparkContext.hadoopConfiguration).exists(manifestPath(table, toV)),
      s"TxTable: cannot restore $table to expired/unknown version $toV")
    // Stats, blooms, DELETION VECTORS, and the COLUMN MAPPING restore with
    // their files: the restored snapshot must read bit-identically to
    // the target, merge-on-read deletes and renames included
    val target = withSchema(snapshotOf(spark, table, toV), readVersion(spark, table, toV))
    publishOrConflict(fs(spark, table), table, Some(snapshotOf(spark, table, head)),
      target.copy(version = head + 1, op = "restore", txn = None))
    head + 1
  }

  /** SHALLOW CLONE (the Delta `CREATE TABLE ... SHALLOW CLONE` shape):
    * a METADATA-ONLY copy — `dst`'s v1 manifest records `src`'s
    * resolved snapshot (at `version`, default head) with every data
    * file referenced by ABSOLUTE path and every stat/bloom/value-set/
    * deletion-vector/row-count/mapping entry carried
    * verbatim. ZERO data IO at any table size: cloning a 100 TB table
    * is one manifest write. The clone then evolves INDEPENDENTLY —
    * appends/deletes/compactions land in `dst`'s own directory and
    * never touch `src` (`compact(where, minBytes)` MATERIALIZES the
    * borrowed files it selects into owned ones; with its defaults, the
    * whole clone); `src`'s later commits are invisible to the clone (it
    * pinned a snapshot). The dev/test-branch and experiment-fork story.
    *
    * Caveats (Delta's own): VACUUM on `src` can delete files the clone
    * still references — retain `src` history while clones are live (or
    * [[compact]] the clone to materialize it). `dst`'s vacuum never
    * touches borrowed files (it only deletes under `dst`). Cloning a
    * hive-partitioned layout is refused: the partition column derives
    * from paths under `src/data`, which a foreign basePath read cannot
    * reproduce — rewrite `src` to a flat layout (op="overwrite") first.
    */
  def cloneShallow(spark: SparkSession, src: String, dst: String,
                   version: Int = -1): Int = {
    val v = if (version > 0) version else currentVersion(spark, src)
    require(v >= 1, s"TxTable: cannot clone non-existent table $src")
    require(currentVersion(spark, dst) == 0,
      s"TxTable: clone target $dst already exists — drop it first")
    require(partColOf(spark, src, v).isEmpty,
      s"TxTable: $src v$v has a hive-partitioned layout — a clone cannot " +
      "re-derive path partition values across table roots; rewrite it to a " +
      "flat layout (op=\"overwrite\") first")
    publishOrConflict(fs(spark, dst), dst, None, snapshotOf(spark, src, v)
      .mapFiles(rel => dataPath(src, rel)).copy(version = 1, op = "clone", txn = None))
    1
  }

  /** Constraint-gated commit — the Delta CHECK-constraint / write-
    * audit-publish shape composed from the parts this engine already
    * has: run a declared [[graft.functions.Quality]] audit over the
    * frame and PUBLISH ONLY IF every check passes; a violation refuses
    * loudly with the failed verdicts named and the table head
    * untouched (nothing was committed — the scratch write never
    * happens). The audit is Quality's one-shared-scan pass, so the
    * price is one extra scan of the INPUT before the write (the
    * full WAP refinement — audit the written files, then publish —
    * belongs inside the committer when the input is too expensive to
    * scan twice; for a batch commit the one-scan audit is the
    * standard guard).
    *
    * @return the committed version
    */
  def commitChecked(df: DataFrame, table: String,
                    checks: Seq[graft.functions.Quality.Check],
                    op: String = "append"): Int = {
    import org.apache.spark.sql.functions.{col, not}
    val failed = graft.functions.Quality.audit(df, checks)
      .filter(not(col("passed"))).collect() // ≤ |checks| rows
    require(failed.isEmpty,
      s"TxTable: commit to $table refused — ${failed.length} constraint(s) failed: " +
      failed.map(r => s"${r.getString(0)}(${r.getString(1)}) metric=${r.get(2)}")
        .mkString("; "))
    commit(df, table, op)
  }

  // ------------------- WRITE-AUDIT-PUBLISH -------------------
  // The Iceberg WAP refinement of [[commitChecked]] for inputs too
  // expensive to scan twice: the data files land ONCE at stage time,
  // the audit runs over the WRITTEN files (not a second pass over the
  // input), and publish is a METADATA-ONLY append commit adopting
  // them — no data IO between audit verdict and table head. A staged
  // batch is invisible to every read until published; a failed audit
  // abandons it without the table ever having moved.

  private def stagedPath(table: String, wapId: String) =
    new Path(s"$table/_staged/$wapId.json")

  private def requireWapId(wapId: String): Unit =
    require(wapId.nonEmpty && wapId.forall(c =>
        c.isLetterOrDigit && c < 128 || c == '-' || c == '_'),
      s"TxTable: wapId must be [A-Za-z0-9_-]+, got '$wapId'")

  private def stagedFiles(f: FileSystem, table: String, wapId: String): Seq[String] = {
    val sp = stagedPath(table, wapId)
    require(f.exists(sp), s"TxTable: no staged batch '$wapId' at $table")
    TxManifest.parseStaged(textOf(f, sp))
  }

  /** A whole small UTF-8 file (manifest, ref or staged record). */
  private def textOf(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Stage a batch for write-audit-publish: the frame writes to the
    * table's data directory under UNVERSIONED staged names
    * (`w_<wapId>_…`) recorded in `_staged/<wapId>.json` — referenced
    * by NO manifest, so every snapshot read, CDC poll, and time travel
    * is oblivious until [[publishWap]]. The schema gates against the
    * head HERE (loud before any audit work); partitioned or
    * column-mapped heads refuse (stage writes flat logical-named
    * files — those layouts commit directly). Returns the staged
    * relative paths (the audit surface, also via [[readWap]]).
    */
  /** Commit `nSlices` row-disjoint slices of one frame as `nSlices`
    * consecutive append versions with ONE distributed write. The
    * sequential shape — N× `commit(df.filter(slice === i).coalesce(1))`
    * — re-scans the input and schedules a full write job per version;
    * building an N-version history that way is N scans, N writes, and
    * N driver-side job launches for data one pass can produce. Here
    * the frame writes once into a scratch dir hive-partitioned by the
    * slice id (repartitioned so each slice lands in exactly one task →
    * exactly one data file per slice, the coalesce(1) shape), and each
    * version then ADOPTS its slice's file through the same
    * preNamed/WAP publish path `publishWap` uses: per-version rows,
    * file count, footer stats, and manifests are identical to the
    * sequential form — minus N−1 scans and write jobs.
    *
    * `sliceOf` must be an integer expression in [0, nSlices); rows are
    * partitioned by it EXACTLY (hive directory = slice value, no
    * hashing ambiguity). An empty slice commits as a zero-file append
    * (version exists, carries the parent's files). Fresh/unmapped/
    * unpartitioned tables only — the stageWap preconditions, and the
    * only shape history-building setups use. `statsCols` declares range
    * stats as in [[commit]] (the way to index a table this call creates).
    */
  def commitSlices(df: DataFrame, table: String, sliceOf: Column, nSlices: Int,
                   statsCols: Seq[String] = Nil,
                   payloadCols: Seq[String] = Nil): Seq[Int] = {
    require(nSlices >= 1, s"nSlices must be >= 1, got $nSlices")
    val spark = df.sparkSession
    val f = fs(spark, table)
    val v0 = currentVersion(spark, table)
    require(v0 < 1 || partColOf(spark, table, v0).isEmpty,
      s"TxTable: $table has a partitioned layout — commitSlices writes flat files")
    require(v0 < 1 || colMapOf(spark, table, v0).isEmpty,
      s"TxTable: $table is column-mapped — commitSlices writes logical names physically")
    // the slice expression may read columns that are NOT part of the
    // committed payload (e.g. slicing orders by priority while
    // committing only key+price): compute the slice first, then keep
    // payloadCols (all of df when empty)
    val keep = if (payloadCols.nonEmpty) payloadCols else df.columns.toSeq
    val payload = df.select(keep.map(col): _*)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(s"$table/_tmp_s$nonce")
    df.withColumn("_slice", sliceOf.cast("int"))
      .select((keep :+ "_slice").map(col): _*)
      .repartition(nSlices, col("_slice"))
      .write.mode("overwrite").partitionBy("_slice").parquet(tmp.toString)
    f.mkdirs(new Path(s"$table/data"))
    val bySlice: Map[Int, Seq[Path]] =
      f.listStatus(tmp).filter(_.isDirectory).flatMap { d =>
        val sl = d.getPath.getName.stripPrefix("_slice=").toInt
        f.listStatus(d.getPath).map(_.getPath)
          .filter(_.getName.startsWith("part-")).sortBy(_.getName)
          .map(p => sl -> p)
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    val out = (0 until nSlices).map { i =>
      // adopted files take the standard v<version>_<i>_<nonce> names —
      // auditors (and the oracle) glob data files by that convention
      val v = currentVersion(spark, table) + 1
      val named = bySlice.getOrElse(i, Seq.empty).zipWithIndex.map { case (p, j) =>
        val rel = s"data/v${v}_${j}_$nonce.parquet"
        require(f.rename(p, new Path(s"$table/$rel")), s"rename failed for $p")
        rel
      }
      commitAs(payload, table, v, "append", TxIndex(stats = statsCols),
        preNamed = Some(named), dfIsPhysical = true)
    }
    f.delete(tmp, true)
    out
  }

  def stageWap(df: DataFrame, table: String, wapId: String): Seq[String] = {
    requireWapId(wapId)
    val spark = df.sparkSession
    val f = fs(spark, table)
    val v = currentVersion(spark, table)
    require(v < 1 || partColOf(spark, table, v).isEmpty,
      s"TxTable: $table has a partitioned layout — WAP staging writes flat " +
      "files; commit the batch directly")
    require(v < 1 || colMapOf(spark, table, v).isEmpty,
      s"TxTable: $table is column-mapped — WAP staging writes logical names " +
      "physically; commit the batch directly")
    if (v >= 1) manifestSchema(spark, table, v).foreach { parent =>
      require(schemaKey(parent) == schemaKey(df.schema),
        s"TxTable: staged schema mismatch at $table — head has " +
        s"${schemaKey(parent).map(p => p._1 + ":" + p._2).mkString("[", ", ", "]")} but the " +
        s"staged frame has ${schemaKey(df.schema).map(p => p._1 + ":" + p._2).mkString("[", ", ", "]")}")
    }
    require(!f.exists(stagedPath(table, wapId)),
      s"TxTable: batch '$wapId' is already staged at $table — publish or abandon it")
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(s"$table/_tmp_w${wapId}_$nonce")
    df.write.mode("overwrite").parquet(tmp.toString)
    f.mkdirs(new Path(s"$table/data"))
    val named = f.listStatus(tmp).map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName).zipWithIndex
      .map { case (p, i) =>
        val rel = s"data/w_${wapId}_${i}_$nonce.parquet"
        require(f.rename(p, new Path(s"$table/$rel")), s"rename failed for $p")
        rel
      }.toSeq
    f.delete(tmp, true)
    val out = f.create(stagedPath(table, wapId), false)
    try out.write(TxManifest.renderStaged(wapId, named).getBytes("UTF-8"))
    finally out.close()
    named
  }

  /** The staged batch as a frame — the AUDIT surface: exactly the
    * files stage wrote, read back (what publish will adopt, not what
    * the caller remembers handing in).
    */
  def readWap(spark: SparkSession, table: String, wapId: String): DataFrame = {
    requireWapId(wapId)
    val files = stagedFiles(fs(spark, table), table, wapId)
    require(files.nonEmpty, s"TxTable: staged batch '$wapId' records no files")
    val paths = files.map(rel => s"$table/$rel")
    spark.read.schema(graft.core.ParquetFooters.schemaOf(spark, paths.head))
      .parquet(paths: _*)
  }

  /** Publish a staged batch: one append COMMIT whose data files are
    * the staged ones (adopted by reference — zero data IO; the table's
    * declared skipping entries gather from the staged footers/contents,
    * the metadata-scale cost every commit pays). Rides the full commit
    * machinery: schema gate against the CURRENT head (which may have
    * moved since stage), CAS + append rebase on conflicts (staged
    * files re-key to versioned names), and an exactly-once txn marker
    * (`_wap_<id>`) so a crash between CAS and staged-record cleanup
    * can never double-publish. Returns the published version.
    */
  def publishWap(spark: SparkSession, table: String, wapId: String,
                 maxAttempts: Int = 20): Int = {
    requireWapId(wapId)
    val f = fs(spark, table)
    val appId = s"_wap_$wapId"
    txnVersionOf(spark, table, appId, 0L) match {
      case Some(v) => // already published; finish the cleanup half
        f.delete(stagedPath(table, wapId), false)
        v
      case None =>
        val add = stagedFiles(f, table, wapId)
        require(add.nonEmpty, s"TxTable: staged batch '$wapId' records no files")
        val head = currentVersion(spark, table)
        require(head < 1 || partColOf(spark, table, head).isEmpty,
          s"TxTable: $table gained a partitioned layout after staging — abandon '$wapId'")
        val addPaths = add.map(rel => s"$table/$rel")
        val df = spark.read
          .schema(graft.core.ParquetFooters.schemaOf(spark, addPaths.head))
          .parquet(addPaths: _*)
        val nv = commitAs(df, table, head + 1, "append",
          txn = Some((appId, 0L)), rebaseAppend = true, maxAttempts = maxAttempts,
          dfIsPhysical = true, preNamed = Some(add))
        f.delete(stagedPath(table, wapId), false)
        nv
    }
  }

  /** Drop a staged batch that failed its audit: the staged record and
    * its files delete; the table never moved. Returns the removed
    * relative paths.
    */
  def abandonWap(spark: SparkSession, table: String, wapId: String): Seq[String] = {
    requireWapId(wapId)
    val f = fs(spark, table)
    val files = stagedFiles(f, table, wapId)
    files.foreach(rel => f.delete(new Path(s"$table/$rel"), false))
    f.delete(stagedPath(table, wapId), false)
    files
  }

  /** First-class transactional MERGE — the lakehouse MERGE INTO as an
    * API instead of a composition: apply a CDC feed (keyCol, seqCol,
    * opCol ∈ I/U/D + payload) onto the CURRENT snapshot via
    * [[graft.operators.Upsert.applyChanges]] and publish the result as
    * the next version (op "merge" — snapshot-replacing, so `changes()`
    * reads it as delete-of-parent + insert-of-result, like overwrite).
    *
    * Concurrency is the Delta MERGE retry semantics: losing the
    * version CAS means a concurrent writer changed the table between
    * this merge's read and its publish, so the already-computed frame
    * is STALE — the loser re-reads the new head and RE-MERGES (never
    * re-publishes stale bytes; that would silently drop the winner's
    * rows). The loop is bounded by `maxAttempts`, then fails loudly
    * with the competing version named.
    *
    * Scale shape per attempt: applyChanges is one feed-keyed window +
    * one key equi-join (feed broadcasts when small — the CDC norm),
    * the commit one distributed write; the retry recomputes only when
    * an actual conflict happened. The merged files get the table's
    * declared skipping entries; `statsCols` declares more, as in
    * [[commit]].
    *
    * @return (committed version, attempts used)
    */
  def mergeInto(spark: SparkSession, table: String, changes: DataFrame,
                keyCol: String, seqCol: String, opCol: String,
                statsCols: Seq[String] = Nil, maxAttempts: Int = 5): (Int, Int) = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    var attempt = 0
    var out = -1
    while (out < 0) {
      attempt += 1
      val v = currentVersion(spark, table)
      require(v >= 1, s"TxTable: cannot merge into non-existent table $table")
      val merged = graft.operators.Upsert.applyChanges(
        readVersion(spark, table, v), changes, keyCol, seqCol, opCol)
      // a partitioned layout survives the snapshot-replacing merge
      // (same rule as the full compact: fresh files re-partition by
      // the logical column; the mapping resets)
      val partLogical = partColOf(spark, table, v).map(logicalOf(colMapOf(spark, table, v), _))
      try out = commitAs(merged, table, v + 1, "merge", TxIndex(stats = statsCols),
        partitionBy = partLogical)
      catch {
        case e: RuntimeException if e.getMessage != null &&
            e.getMessage.contains("commit conflict") && attempt < maxAttempts =>
          () // head moved — loop re-reads and re-merges
      }
    }
    (out, attempt)
  }

  /** Manifests are immutable once published (conditional-create
    * committer — a version file is never rewritten in place), so the
    * parsed manifest caches safely; the scalar accessors below (op, ms,
    * schema, partCol, commitMs, map, txn) are field reads of it, and a
    * single snapshot read consults several of them. Bounded like
    * [[snapCache]]; [[drop]] and version expiry invalidate the same way.
    */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), TxManifest]()

  /** Version `v`'s manifest as written (the delta form between
    * checkpoints); [[snapshotOf]] is the resolved state.
    */
  private def manifestOf(spark: SparkSession, table: String, v: Int): TxManifest = {
    val key = (table, v)
    val hit = manifestCache.get(key)
    if (hit != null) return hit
    val m = TxManifest.parse(textOf(fs(spark, table), manifestPath(table, v)))
    if (manifestCache.size > 1024) manifestCache.clear()
    manifestCache.put(key, m)
    m
  }

  /** Whether version `v`'s snapshot requires a mergeSchema read
    * (sticky from the first `commitEvolve`; reset by overwrite).
    */
  private[graft] def msOf(spark: SparkSession, table: String, v: Int): Boolean =
    manifestOf(spark, table, v).ms

  /** Snapshot schema as recorded in version `v`'s manifest; None for
    * manifests written before the schema field existed.
    */
  private[graft] def manifestSchema(spark: SparkSession, table: String,
                                    v: Int): Option[StructType] =
    manifestOf(spark, table, v).schema.map(StructType.fromDDL)

  /** Additive schema evolution (the Delta `mergeSchema` append): the
    * new frame may ADD columns over the parent snapshot but must keep
    * every existing column at its exact type — drops and type changes
    * refuse loudly (they silently lose or corrupt data under a footer
    * union; an intentional rewrite goes through `overwrite`). The
    * committed snapshot mixes old and new footers; the manifest's
    * sticky `ms` flag routes every later read of this table through
    * mergeSchema, so rows from pre-evolution files surface the new
    * columns as NULL — exactly the SQL ALTER TABLE ADD COLUMN
    * semantics. Costs one footer read per file at plan time for
    * evolved tables only.
    */
  def commitEvolve(df: DataFrame, table: String): Int = {
    val spark = df.sparkSession
    val v = currentVersion(spark, table)
    if (v == 0) return commitAs(df, table, 1, "append")
    val parent = readVersion(spark, table, v).schema
    val newTypes = schemaKey(df.schema).toMap
    val missing = schemaKey(parent).filterNot { case (n, t) =>
      newTypes.get(n).contains(t) }
    require(missing.isEmpty,
      s"TxTable: commitEvolve at $table v${v + 1} is not additive — parent columns " +
      s"${missing.map(p => p._1 + ":" + p._2).mkString("[", ", ", "]")} are dropped or " +
      "retyped in the new frame; evolution may only ADD columns (use op=\"overwrite\" " +
      "for a rewrite)")
    commitAs(df, table, v + 1, "evolve")
  }

  /** The op recorded in version `v`'s manifest. */
  def opOf(spark: SparkSession, table: String, v: Int): String =
    manifestOf(spark, table, v).op

  /** Commit time (epoch ms) of version `v` — strictly increasing with
    * the version by the commit protocol. Pre-timestamp manifests read
    * as 0 (epoch) so an old table stays time-travelable to "ever".
    */
  def commitMsOf(spark: SparkSession, table: String, v: Int): Long =
    manifestOf(spark, table, v).commitMs

  /** Timestamp time travel (Delta's `timestampAsOf`): the snapshot the
    * table showed at `tsMs` — the LARGEST live version whose commit
    * time is ≤ tsMs. Strict commit-time monotonicity (enforced at
    * commit) makes the resolution unambiguous even for commits landing
    * in the same wall millisecond. Refuses loudly before the first
    * commit rather than returning an empty frame.
    */
  def readAsOf(spark: SparkSession, table: String, tsMs: Long): DataFrame = {
    val vs = liveVersions(spark, table)
    require(vs.nonEmpty, s"TxTable: no versions at $table")
    val at = vs.filter(v => commitMsOf(spark, table, v) <= tsMs)
    require(at.nonEmpty,
      s"TxTable: no version of $table existed at ts=$tsMs " +
      s"(earliest commit ${commitMsOf(spark, table, vs.min)})")
    readVersion(spark, table, at.max)
  }

  /** The version history as a DataFrame — (version, op, n_files).
    * Expired versions no longer appear.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    liveVersions(spark, table).map { v =>
      (v, opOf(spark, table, v), filesOf(spark, table, v).size)
    }.toDF("version", "op", "n_files")
  }

  /** Change-data read: every row inserted or deleted between versions
    * `fromV` (exclusive) and `toV` (inclusive), tagged with
    * (_change ∈ insert|delete, _version). `fromV = 0` replays the
    * table from its beginning.
    *
    * This is the incremental-consumption half of the snapshot layer
    * (Delta's CDF shape, derived instead of logged): a downstream
    * consumer keeps only its last-seen version number and each poll
    * costs ONLY the delta, never a snapshot rescan. The file-set
    * manifest makes that derivation exact and cheap:
    *  - an APPEND commit's inserts are precisely the files the
    *    manifest added over its parent — the read touches only those
    *    new files, so consuming a 100 TB table's hourly appends reads
    *    hourly volume, not 100 TB;
    *  - an OVERWRITE commit replaces the snapshot wholesale, so its
    *    changes are deletes of every parent file + inserts of every
    *    new file — the two snapshot reads are unavoidable without a
    *    row-level change log, and that cost sits exactly where the
    *    semantics put it (row-level MERGE deltas belong to
    *    `Upsert.diffSnapshots`, which this composes with).
    * Rows are NOT deduplicated across versions: a row appended at v2
    * and deleted by an overwrite at v3 appears twice, once per event —
    * that is what makes the stream replayable into any consumer.
    * COMPACT commits are skipped: they rewrite bytes, not rows (the
    * `dataChange=false` rule), so consumers never re-see a compacted
    * snapshot as churn.
    */
  def changes(spark: SparkSession, table: String, fromV: Int, toV: Int): DataFrame = {
    require(fromV >= 0 && toV > fromV, s"need 0 <= fromV < toV, got ($fromV, $toV)")
    require(toV <= currentVersion(spark, table), s"TxTable: no version $toV at $table")
    // each step's rows surface through the SNAPSHOT SEMANTICS of the
    // version where they are visible (inserts: v; deletes: v-1):
    // deletion-vector-filtered so merge-on-read-deleted rows neither
    // re-insert nor re-delete, and projected through that version's
    // column mapping so consumers always see logical names
    def projectVia(atV: Int)(dfr: DataFrame): DataFrame =
      colMapOf(spark, table, atV).fold(dfr) { m =>
        dfr.select(m.collect {
          case (n, p) if dfr.columns.contains(p) => col(p).as(n) }: _*)
      }
    def readFiles(files: Seq[String], atV: Int): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(dropHidden(projectVia(atV)(morFilter(spark, table, atV,
        rawRead(spark, table, atV, files)))))
    val steps = ((fromV + 1) to toV).flatMap { v =>
      val prev = if (v == 1) Seq.empty else filesOf(spark, table, v - 1)
      val cur = filesOf(spark, table, v)
      opOf(spark, table, v) match {
        // byte rewrite / metadata-only: no row change (dataChange=false)
        case "compact" | "rename" | "drop" => Seq.empty
        // merge-on-read delete: the delta is exactly the NEW
        // deletion-vector pairs resolved against the files they
        // reference — the read touches ONLY those files, never the
        // snapshot
        case "posdelete" =>
          val newPosd = posDeletesOf(spark, table, v)
            .diff(posDeletesOf(spark, table, v - 1))
          if (newPosd.isEmpty) Seq.empty
          else {
            val pairs = posPairs(spark, table, newPosd)
            val touched = pairs.select("_graft_pf").distinct()
              .collect().map(_.getString(0)).toSeq // file NAMES: metadata-scale
            if (touched.isEmpty) Seq.empty
            else {
              // resolve sidecar file NAMES to manifest-relative paths
              // (partitioned layouts nest files under <col>=<val>/)
              val relOf = filesOf(spark, table, v)
                .map(r => r.substring(r.lastIndexOf('/') + 1) -> r).toMap
              val raw = rawRead(spark, table, v, touched.map(relOf))
              Seq(dropHidden(projectVia(v)(byPosition(raw, pairs, "left_semi")))
                .withColumn("_change", lit("delete"))
                .withColumn("_version", lit(v)))
            }
          }
        case op =>
          val (ins, del) =
            if (op == "append" || op == "evolve") (cur.diff(prev), Seq.empty[String])
            // copy-on-write delete/update: carried files are identical
            // in both snapshots — churn is exactly the rewritten subset
            // (delete-of-candidates + insert-of-survivors/rewrites)
            else if (op == "delete" || op == "update") (cur.diff(prev), prev.diff(cur))
            else (cur, prev) // overwrite/merge/restore: full snapshot replace
          readFiles(ins, v).map(
            _.withColumn("_change", lit("insert")).withColumn("_version", lit(v))) ++
            readFiles(del, v - 1).map(
              _.withColumn("_change", lit("delete")).withColumn("_version", lit(v)))
      }
    }
    if (steps.isEmpty) // e.g. a compact-only interval: a legitimate empty delta
      changesSchemaFrame(spark, table, toV)
    // allowMissingColumns: steps straddling a schema evolution differ
    // by the added columns — pre-evolution rows surface them as NULL
    // (no-op for uniform-schema tables)
    else steps.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private def changesSchemaFrame(spark: SparkSession, table: String, v: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    readVersion(spark, table, v).limit(0)
      .withColumn("_change", lit("insert")).withColumn("_version", lit(v))
  }

  /** OPTIMIZE: rewrite the head's files that [[keptFiles]] keeps for
    * `where` and that are smaller than `minBytes` into ~`targetBytes`
    * files; every other file carries by reference (zero IO). Publishes
    * op "compact", a content-preserving version (`changes()` skips it);
    * time travel to earlier versions still works until `expireVersions`
    * reclaims their files. `where` selects whole FILES, never rows: a
    * file it cannot refute is rewritten whole.
    *  - Nothing carried (the defaults: the whole snapshot): one
    *    distributed read→repartition→write of the snapshot, which
    *    applies the deletion vectors, resets the column mapping (a
    *    dropped column's data is shed) and keeps the layout by its
    *    logical column.
    *  - Something carried (a partition by `cast(p as string) = value`, a
    *    range of a stats column, the small files after streaming
    *    ingest by `minBytes`): the selected files are read raw through
    *    their deletion vectors and re-binned under the parent's physical
    *    names and layout; carried files keep their skipping entries and
    *    vectors, and the rebinned ones get the table's declared entries.
    * The file count is derived from the selected files' bytes, so the
    * work is selection-sized, never history-sized.
    *
    * @return (version, nRewritten, nCarried) — the head unchanged with
    *         0 rewrites when the rewrite would only rename files: fewer
    *         than 2 selected files, none borrowed from a clone source
    *         and none with a deletion vector, and, when nothing is
    *         carried, no column mapping (Delta's no-op rule: a single
    *         file gains nothing)
    */
  def compact(spark: SparkSession, table: String, where: Column = lit(true),
              minBytes: Long = Long.MaxValue,
              targetBytes: Long = 128L << 20): (Int, Int, Int) = {
    require(minBytes > 0 && targetBytes > 0,
      s"minBytes/targetBytes must be positive, got ($minBytes, $targetBytes)")
    val v = currentVersion(spark, table)
    require(v >= 1, s"TxTable: nothing to compact at $table")
    val f = fs(spark, table)
    val all = filesOf(spark, table, v)
    // the default keeps every file; any other `where` is analyzed first,
    // so a name the snapshot lacks throws before anything is rewritten
    val kept =
      if (where == lit(true)) all.toSet
      else { analyzed(spark, table, v, where); keptFiles(spark, table, v, where).toSet }
    val (mine, bytes) = all.filter(kept)
      .map(rel => rel -> f.getFileStatus(new Path(dataPath(table, rel))).getLen)
      .filter(_._2 < minBytes).unzip
    val others = all.filterNot(mine.toSet)
    val map = colMapOf(spark, table, v)
    // a borrowed (shallow-clone) file is never a no-op: the rewrite
    // materializes it under this table
    if (mine.size < 2 && !mine.exists(_.startsWith("/")) && !hasVectors(spark, table, v, mine) &&
        (others.nonEmpty || map.isEmpty))
      return (v, 0, all.size)
    val nOut = math.max(1L, (bytes.sum + targetBytes - 1) / targetBytes).toInt
    val nv =
      if (others.isEmpty)
        // a partitioned layout survives the full rewrite: the fresh files
        // re-partition by the LOGICAL column (the mapping resets, so
        // logical == physical afterwards — same rule as the column map)
        commitAs(readVersion(spark, table, v).repartition(nOut), table, v + 1,
          "compact", partitionBy = partColOf(spark, table, v).map(logicalOf(map, _)))
      else
        commitAs(morFilter(spark, table, v, rawRead(spark, table, v, mine)).repartition(nOut),
          table, v + 1, "compact", carryFiles = Some(others), dfIsPhysical = true)
    (nv, mine.size, others.size)
  }

  /** Whether a deletion vector of version `v` names any of `files`. */
  private def hasVectors(spark: SparkSession, table: String, v: Int,
                         files: Seq[String]): Boolean = {
    val posd = posDeletesOf(spark, table, v)
    files.nonEmpty && posd.nonEmpty && !posPairs(spark, table, posd)
      .filter(col("_graft_pf").isin(files.map(_.split('/').last): _*)).isEmpty
  }

  /** HIDDEN transform partitioning (Iceberg's "hidden partitioning"):
    * the layout column is DERIVED from a source column by a recorded
    * transform and never enters the logical schema — users write and
    * query the SOURCE column; the engine derives the layout value at
    * commit, prunes by transforming the probe, and drops the derived
    * column on read. The transform is encoded in the partition column
    * NAME (`_gpt-<kind>-<srcPhysicalCol>`), so it rides every existing
    * manifest / restore / compact / delta-log path with no new
    * manifest field. Supported kinds:
    *  - `bucket16`: first hex nibble of md5 of the source's string
    *    rendering — 16 buckets, engine-portable (the oracle and any
    *    auditor recompute it from the data alone);
    *  - `day`: yyyy-MM-dd of a timestamp — dir values sort
    *    lexicographically, so range pruning is a string between.
    * The spec names the PHYSICAL source column (physical names never
    * change once written — rename stays metadata-only), and
    * [[renameColumn]]/[[dropColumn]] refuse on the source of a live
    * hidden layout.
    */
  private[graft] val HiddenPrefix = "_gpt-"

  private[graft] def hiddenSpecOf(pc: String): Option[(String, String)] =
    if (!pc.startsWith(HiddenPrefix)) None
    else pc.stripPrefix(HiddenPrefix).split("-", 2) match {
      case Array(kind, src) if (kind == "bucket16" || kind == "day") && src.nonEmpty =>
        Some((kind, src))
      case _ => None
    }

  private def hiddenColOf(pc: String): Column = hiddenSpecOf(pc) match {
    case Some(("bucket16", src)) => substring(md5(col(src).cast("string")), 1, 1)
    case Some(("day", src)) => date_format(col(src), "yyyy-MM-dd")
    case _ => sys.error(s"TxTable: not a hidden partition column: $pc")
  }

  /** Driver-side mirror of the transform: the directory value a probe
    * key lands in ([[keptFiles]] prunes a bucket layout by it).
    */
  private[graft] def hiddenValueOf(pc: String, key: String): String =
    hiddenSpecOf(pc) match {
      case Some(("bucket16", _)) =>
        "%02x".format(java.security.MessageDigest.getInstance("MD5")
          .digest(key.getBytes("UTF-8")).head & 0xff).take(1)
      case Some(("day", _)) => key.take(10)
      case _ => sys.error(s"TxTable: not a hidden partition column: $pc")
    }

  /** Drop any hidden layout columns a raw/hive read surfaced. */
  private def dropHidden(df: DataFrame): DataFrame = {
    val h = df.columns.filter(c => hiddenSpecOf(c).isDefined)
    if (h.isEmpty) df else df.drop(h.toIndexedSeq: _*)
  }

  /** PARTITION-RANGE read over the directory values, inclusive both
    * ends — dir values compare lexicographically (ISO days, hex
    * nibbles), so a day-partitioned time-range read plans exactly the
    * in-range partitions' files from the manifest alone. No row filter
    * applies. A point read of a partition or a bucket is [[scan]] of
    * `cast(c as string) = value`; a day range is not a [[keptFiles]]
    * atom, because the day a timestamp probe falls on depends on the
    * session zone at commit, which the manifest does not record (a
    * wrong zone would skip files holding matches).
    */
  def readPartitionRange(spark: SparkSession, table: String, lo: String,
                         hi: String, version: Int = -1): DataFrame = {
    val v = if (version > 0) version else currentVersion(spark, table)
    val pc = partColOf(spark, table, v).getOrElse(
      sys.error(s"TxTable: $table v$v has no partitioned layout"))
    readKept(spark, table, v, filesOf(spark, table, v)
      .filter(partValueOf(pc, _).exists(pv => pv >= lo && pv <= hi)))
  }

  /** Partition value of data file `rel` under layout column `pc`: its
    * `data/<pc>=<value>/` directory segment, unescaped (the inverse of
    * the escaping Spark's `partitionBy` writer applied). None for a
    * file outside the layout.
    */
  private def partValueOf(pc: String, rel: String): Option[String] = {
    val prefix = s"data/$pc="
    val end = rel.indexOf('/', prefix.length)
    if (!rel.startsWith(prefix) || end < 0) None
    else Some(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(rel.substring(prefix.length, end)))
  }

  /** Logical name of physical column `p` under a mapping. */
  private def logicalOf(map: Option[Seq[(String, String)]], p: String): String =
    map.flatMap(_.collectFirst { case (n, `p`) => n }).getOrElse(p)

  /** Drop the whole table (tests / rebuild-from-scratch pipelines).
    * Invalidates the table's cached snapshots — the same path may be
    * recreated with new content at the same version numbers.
    */
  def drop(spark: SparkSession, table: String): Unit = {
    val p = new Path(table)
    val f = fs(spark, table)
    if (f.exists(p)) f.delete(p, true)
    // the recursive delete also removes NESTED table roots (branch
    // lines under _refs_branch/<name>) — their snapshots must leave
    // the cache too, or a re-created branch at the same path resolves
    // to the dropped generation's file list (stale-cache read of
    // files that no longer exist)
    val pfx = table + "/"
    snapCache.keySet.removeIf(k => k._1 == table || k._1.startsWith(pfx))
    manifestCache.keySet.removeIf(k => k._1 == table || k._1.startsWith(pfx))
    ()
  }

  /** Data files no manifest references (failed-commit orphans,
    * overwritten history after manifests are pruned) — the vacuum
    * candidate list. Listing here is maintenance-path-only by design;
    * the read path never lists.
    */
  def orphans(spark: SparkSession, table: String): Seq[String] = {
    val f = fs(spark, table)
    val dataDir = new Path(s"$table/data")
    if (!f.exists(dataDir)) return Seq.empty
    // deletion-vector sidecars are referenced files too — vacuuming a live
    // sidecar would resurrect its deleted rows; WAP-staged files are
    // referenced by their staged record until published or abandoned
    val stagedDir = new Path(s"$table/_staged")
    val staged: Seq[String] =
      if (!f.exists(stagedDir)) Seq.empty
      else f.listStatus(stagedDir).toSeq.filter(_.getPath.getName.endsWith(".json"))
        .flatMap { st =>
          val wapId = st.getPath.getName.stripSuffix(".json")
          scala.util.Try(stagedFiles(f, table, wapId))
            .getOrElse(Seq.empty)
        }
    val referenced = (liveVersions(spark, table)
      .flatMap(v => filesOf(spark, table, v) ++ posDeletesOf(spark, table, v)) ++
      staged).toSet
    // one level of partition directories (data/<col>=<val>/file)
    f.listStatus(dataDir).toSeq.flatMap { st =>
      if (st.isDirectory)
        f.listStatus(st.getPath).toSeq
          .map(c => s"data/${st.getPath.getName}/${c.getPath.getName}")
      else Seq(s"data/${st.getPath.getName}")
    }.filterNot(referenced).sorted
  }

  /** Target version encoded in a data-file name (`v<N>_<i>_<nonce>`),
    * None for files the commit protocol didn't name.
    */
  private def fileVersion(name: String): Option[Int] =
    "^v(\\d+)_".r.findFirstMatchIn(name).map(_.group(1).toInt)

  /** Delete orphan data files (failed/lost-race commits, pruned
    * history) — the standing maintenance job. Returns the deleted
    * relative paths.
    *
    * An unreferenced file is NOT proof of a dead file: `commitAs`
    * renames data files into `data/` BEFORE publishing the manifest,
    * so every in-flight commit's files are momentarily orphans by the
    * listing's lights — an unguarded vacuum racing a commit would
    * delete files whose manifest is about to publish, corrupting that
    * version unreadably. Two independent guards close the window
    * (Delta's retention-window idea, plus what our versioned names
    * make possible):
    *  - IN-FLIGHT SKIP: a file whose encoded target version exceeds
    *    the current head belongs to a commit that hasn't published
    *    yet — never touched, regardless of age. (If that writer
    *    crashed, its files are reclaimed as soon as a later commit
    *    advances the head past their version.)
    *  - AGE GATE: only files at least `minAgeMs` old are deleted
    *    (default 24 h), covering clock-skewed stores and the loser of
    *    a same-version race whose files carry version ≤ head. Pass 0
    *    only when no commit can be concurrently in flight.
    */
  def vacuum(spark: SparkSession, table: String,
             minAgeMs: Long = 24L * 3600 * 1000): Seq[String] = {
    require(minAgeMs >= 0, s"minAgeMs must be >= 0, got $minAgeMs")
    val f = fs(spark, table)
    val head = currentVersion(spark, table)
    val now = System.currentTimeMillis()
    val dead = orphans(spark, table).filter { rel =>
      val inFlight =
        fileVersion(rel.substring(rel.lastIndexOf('/') + 1)).exists(_ > head)
      !inFlight && (try {
        now - f.getFileStatus(new Path(s"$table/$rel")).getModificationTime >= minAgeMs
      } catch { case _: java.io.FileNotFoundException => false }) // a racing vacuum got it
    }
    dead.foreach(rel => f.delete(new Path(s"$table/$rel"), false))
    dead
  }

  /** Expire history: drop every manifest older than the newest
    * `keepLast` versions, then delete data files only the dropped
    * manifests referenced. Time travel to expired versions fails
    * loudly afterwards (their manifests are gone); the kept versions
    * are untouched — their files are immutable and still fully
    * referenced. This is the retention half vacuum alone can't do:
    * after an overwrite/compact, the replaced snapshot's bytes are
    * reclaimable only once its manifest is out of the retention
    * window. Returns (expired manifests, deleted data files).
    */
  def expireVersions(spark: SparkSession, table: String, keepLast: Int): (Seq[Int], Seq[String]) = {
    require(keepLast >= 1, s"must keep at least the current version, got $keepLast")
    val f = fs(spark, table)
    val live = liveVersions(spark, table)
    val head = live.foldLeft(0)(math.max)
    val cut = head - keepLast // expire live versions <= cut
    // CHECKPOINT BOUNDARY: a delta manifest reconstructs through its
    // contiguous parent chain down to its base checkpoint — expiring
    // any link of a KEPT version's chain would strand that version
    // unreadably. The oldest kept version's chain floor bounds what
    // may expire; the CheckpointEvery cadence keeps the extra
    // retention under one checkpoint interval of (small) manifests.
    @scala.annotation.tailrec
    def chainFloorOf(v: Int): Int = manifestOf(spark, table, v).delta match {
      case Some(d) => chainFloorOf(d.base)
      case None => v
    }
    val floor = live.filter(_ > cut).minOption.fold(head)(chainFloorOf)
    // REF PROTECTION: versions pinned by a tag or serving as a branch
    // base stay readable (and keep their files below) however old —
    // expiring a tagged release or a live branch's borrowed base is
    // the silent-data-loss shape refs exist to prevent. A pinned
    // version that is itself a delta keeps its chain via chainFloorOf.
    val pinned = refsOf(spark, table).map(_._3).toSet
    val pinnedFloor = pinned.map(chainFloorOf).minOption.getOrElse(Int.MaxValue)
    val (expire, keep) = live.partition(v =>
      v <= cut && v < floor && v < pinnedFloor && !pinned.contains(v))
    if (expire.isEmpty) return (Seq.empty, Seq.empty)
    val keptFiles = keep.flatMap(v => filesOf(spark, table, v) ++
      posDeletesOf(spark, table, v)).toSet
    val deadFiles = expire.flatMap(v => filesOf(spark, table, v) ++
      posDeletesOf(spark, table, v))
      .distinct.filterNot(keptFiles).sorted
    // Order matters for crash safety: drop manifests FIRST so no
    // reader can resolve a version whose files are mid-delete; a crash
    // between the two phases leaves orphans, which vacuum reclaims.
    expire.foreach { v =>
      f.delete(manifestPath(table, v), false)
      snapCache.remove((table, v)) // expired versions must fail loudly
      manifestCache.remove((table, v))
    }
    deadFiles.foreach(rel => f.delete(new Path(s"$table/$rel"), false))
    (expire, deadFiles)
  }

  // ------------------------------------------------------------------
  // Named refs: TAGS and BRANCHES (the Iceberg refs surface).
  // A ref is a tiny JSON file under $table/_refs/<name>.json published
  // through the SAME conditional-create committer as manifests, so ref
  // creation is atomic and race-safe on every store the table itself
  // supports. A TAG pins a version immutably (releases, eval
  // snapshots, "the corpus we trained v3 on"); a BRANCH forks an
  // independent commit line from a pinned base via the shallow-clone
  // machinery (zero data IO at any size) and can later FAST-FORWARD
  // back onto main when main has not advanced. Both ref kinds protect
  // their pinned version from [[expireVersions]].
  // ------------------------------------------------------------------

  private def refsDir(table: String) = new Path(s"$table/_refs")
  private def refPath(table: String, name: String) =
    new Path(s"$table/_refs/$name.json")

  private def requireRefName(name: String): Unit =
    require(name.nonEmpty &&
        name.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"TxTable: ref name must be [A-Za-z0-9_-]+, got '$name'")

  /** The independent commit line a branch ref names. Lives INSIDE the
    * table directory (one blast radius for drop/backup) but outside
    * data/ and _manifests/, so the main line's vacuum, orphan
    * accounting, and version expiry never see branch files.
    */
  private[graft] def branchRoot(table: String, name: String): String =
    s"$table/_refs_branch/$name"

  /** Pin `version` (default: the current head) under an immutable
    * named tag. Refuses an existing name — a tag that can move is a
    * branch; drop and re-create to re-point deliberately.
    */
  def createTag(spark: SparkSession, table: String, name: String,
                version: Int = -1): Int = {
    requireRefName(name)
    val v = if (version > 0) version else currentVersion(spark, table)
    require(v >= 1, s"TxTable: cannot tag non-existent table $table")
    val f = fs(spark, table)
    require(f.exists(manifestPath(table, v)),
      s"TxTable: cannot tag expired/unknown version $v at $table")
    f.mkdirs(refsDir(table))
    if (!committerFor(f).publish(f, refPath(table, name), TxManifest.renderRef("tag", v),
        java.util.UUID.randomUUID().toString.take(8)))
      sys.error(s"TxTable: ref '$name' already exists at $table — " +
        "refs are immutable; dropRef first to re-point deliberately")
    v
  }

  /** All refs of the table as (name, kind, pinned version). */
  def refsOf(spark: SparkSession, table: String): Seq[(String, String, Int)] = {
    val f = fs(spark, table)
    val d = refsDir(table)
    if (!f.exists(d)) return Seq.empty
    f.listStatus(d).toSeq.filter(_.getPath.getName.endsWith(".json"))
      .flatMap { st =>
        TxManifest.parseRef(textOf(f, st.getPath)).map { case (kind, v) =>
          (st.getPath.getName.stripSuffix(".json"), kind, v) }
      }.sortBy(_._1)
  }

  /** (kind, pinned version) of one ref; loud on a missing name. */
  def refOf(spark: SparkSession, table: String,
            name: String): (String, Int) = {
    requireRefName(name)
    refsOf(spark, table).collectFirst { case (n, k, v) if n == name => (k, v) }
      .getOrElse(sys.error(s"TxTable: no ref '$name' at $table"))
  }

  /** Snapshot read of a ref: a tag reads its pinned main version; a
    * branch reads the branch line's current head.
    */
  def readRef(spark: SparkSession, table: String, name: String): DataFrame =
    refOf(spark, table, name) match {
      case ("tag", v) => readVersion(spark, table, v)
      case ("branch", _) => read(spark, branchRoot(table, name))
      case (k, _) => sys.error(s"TxTable: unknown ref kind '$k'")
    }

  /** Drop a ref (and a branch ref's entire commit line). The pinned
    * main version loses its expiry protection, nothing else.
    */
  def dropRef(spark: SparkSession, table: String, name: String): Unit = {
    requireRefName(name)
    val f = fs(spark, table)
    refsOf(spark, table).find(_._1 == name).foreach { case (_, kind, _) =>
      if (kind == "branch") drop(spark, branchRoot(table, name))
      f.delete(refPath(table, name), false)
    }
  }

  /** Fork an independent commit line from `version` (default head).
    * The branch's v1 is a SHALLOW CLONE of the base snapshot —
    * zero data IO — and its later commits land under the branch root,
    * invisible to main; main's later commits are invisible to the
    * branch (it pinned its base). The ref records the base version,
    * which [[expireVersions]] then protects (the branch borrows the
    * base's files). Commit to the branch through [[branchPath]] with
    * the normal table API — a branch IS a table.
    */
  def createBranch(spark: SparkSession, table: String, name: String,
                   version: Int = -1): Int = {
    requireRefName(name)
    val v = if (version > 0) version else currentVersion(spark, table)
    require(v >= 1, s"TxTable: cannot branch non-existent table $table")
    val root = branchRoot(table, name)
    // a crash between clone and ref publish leaves an orphan branch
    // dir with no ref — clear it so the retry isn't stuck on the
    // clone's fresh-target requirement
    if (refsOf(spark, table).forall(_._1 != name) &&
        currentVersion(spark, root) > 0)
      drop(spark, root)
    cloneShallow(spark, table, root, v)
    val f = fs(spark, table)
    f.mkdirs(refsDir(table))
    if (!committerFor(f).publish(f, refPath(table, name), TxManifest.renderRef("branch", v),
        java.util.UUID.randomUUID().toString.take(8))) {
      drop(spark, root)
      sys.error(s"TxTable: ref '$name' already exists at $table")
    }
    v
  }

  /** The branch line's table root, for committing with the normal
    * API; loud when the ref is missing or names a tag.
    */
  def branchPath(spark: SparkSession, table: String, name: String): String = {
    val (kind, _) = refOf(spark, table, name)
    require(kind == "branch", s"TxTable: ref '$name' is a $kind, not a branch")
    branchRoot(table, name)
  }

  /** Publish the branch's current snapshot onto main as ONE commit —
    * Iceberg's fast-forward: legal only while main still sits at the
    * branch's base version (no divergence; a diverged main needs a
    * real merge, which this deliberately refuses rather than guesses).
    * Zero data IO: files the branch borrowed from main re-relativize
    * into main's own manifest; files the branch wrote itself are
    * borrowed by absolute path (main's compact later materializes
    * them, exactly the clone contract). Stats, blooms, value sets,
    * deletion vectors, row counts, and the column mapping
    * carry with their files, so the fast-forwarded snapshot reads
    * bit-identically to the branch head.
    */
  def fastForward(spark: SparkSession, table: String, name: String): Int = {
    val (kind, baseV) = refOf(spark, table, name)
    require(kind == "branch", s"TxTable: ref '$name' is a $kind, not a branch")
    val head = currentVersion(spark, table)
    require(head == baseV,
      s"TxTable: cannot fast-forward '$name' — $table advanced v$baseV -> " +
      s"v$head since the branch was cut; merge the lines explicitly")
    val br = branchRoot(table, name)
    val bv = currentVersion(spark, br)
    val prefix = s"$table/"
    def back(pth: String): String =
      if (pth.startsWith(prefix)) pth.substring(prefix.length)
      else if (pth.startsWith("/")) pth
      else s"$br/$pth"
    val branchHead = withSchema(snapshotOf(spark, br, bv), read(spark, br))
    publishOrConflict(fs(spark, table), table, Some(snapshotOf(spark, table, head)),
      branchHead.mapFiles(back).copy(version = head + 1, op = "fast_forward",
        txn = None, part = None))
    head + 1
  }

  /** Atomic single-partition overwrite (Delta's `replaceWhere` on a
    * partition predicate): replace EXACTLY the named hive partition's
    * files with `df`'s content in one commit — the nightly
    * re-materialization / backfill-one-day shape, where rewriting the
    * snapshot (or deleting then appending in two commits, with a
    * readable half-state between) is wrong at any size. Every other
    * partition's files carry BY REFERENCE with their skipping entries
    * (the new ones get the table's declared entries); rows of
    * `df` outside the partition refuse loudly BEFORE any write
    * (Delta's replaceWhere constraint — a silently mis-routed row
    * would duplicate under another partition's dir while its old
    * version lives on).
    *
    * @return the committed version
    */
  def overwritePartition(spark: SparkSession, table: String, df: DataFrame,
                         value: String): Int = {
    val v = currentVersion(spark, table)
    require(v >= 1, s"TxTable: cannot replace a partition of non-existent $table")
    val pc = partColOf(spark, table, v).getOrElse(sys.error(
      s"TxTable: $table is not hive-partitioned — overwritePartition needs " +
      "a partitionBy layout; use op=\"overwrite\" for a full replace"))
    require(hiddenSpecOf(pc).isEmpty,
      s"TxTable: $table uses the hidden transform layout '$pc' — hidden " +
      "partition values are path-derived; replace through the key surface")
    // the partition column is stored under its PHYSICAL name; the
    // caller's frame speaks logical names
    val logicalPc = logicalOf(colMapOf(spark, table, v), pc)
    val bad = df.filter(col(logicalPc).isNull ||
      col(logicalPc).cast("string") =!= value).count()
    require(bad == 0L, s"TxTable: overwritePartition($value): $bad rows " +
      s"violate $logicalPc = '$value' — replaceWhere writes exactly one partition")
    val keep = filesOf(spark, table, v).filterNot(partValueOf(pc, _).contains(value))
    commitAs(df, table, v + 1, "update", carryFiles = Some(keep))
  }
}
