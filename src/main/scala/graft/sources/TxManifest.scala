package graft.sources

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The delta form's link to its parent: `base` names the parent
  * version whose resolved state the delta applies to, `rm` the files
  * it removed, `nFiles` the resolved snapshot's file count.
  */
private[graft] final case class TxDelta(base: Int, rm: Seq[String], nFiles: Int)

/** A table's declared skipping index: which PHYSICAL columns carry
  * which per-file entry. It is table state, not a write option — the
  * manifest records it once, and every writer's commit gives the files
  * it adds the entries it declares (the Delta
  * `dataSkippingStatsColumns` shape).
  *
  * @param stats  min/max range stats (numeric columns only, see
  *               [[TxTable.rangeTyped]])
  * @param nulls  null counts
  * @param blooms bloom filters
  * @param sets   value sets
  * @param rows   per-file row counts
  */
private[graft] final case class TxIndex(
    stats: Seq[String] = Nil,
    nulls: Seq[String] = Nil,
    blooms: Seq[String] = Nil,
    sets: Seq[String] = Nil,
    rows: Boolean = false) {

  /** Both declarations: this one's columns first, then `o`'s new ones. */
  def ++(o: TxIndex): TxIndex = TxIndex((stats ++ o.stats).distinct,
    (nulls ++ o.nulls).distinct, (blooms ++ o.blooms).distinct,
    (sets ++ o.sets).distinct, rows || o.rows)

  /** Every column name through `fn`; a name `fn` maps to None leaves. */
  def columns(fn: String => Option[String]): TxIndex =
    TxIndex(stats.flatMap(fn(_)), nulls.flatMap(fn(_)), blooms.flatMap(fn(_)),
      sets.flatMap(fn(_)), rows)
}

/** One table version's manifest — the single model of the format
  * [[TxTable]] writes. RESOLVED (`delta = None`) it is the version's
  * whole state; the DELTA form (`delta = Some(…)`) keeps `files` and
  * the per-file entries of the ADDED files only, while the scalar
  * fields and `posd` are always whole, so their readers never walk the
  * chain. File names are relative to the table root, or
  * absolute for files a shallow clone borrows.
  *
  * @param commitMs commit time (epoch ms), strictly increasing with
  *                 the version; 0 for manifests written without it
  * @param txn      exactly-once marker (appId, batchId)
  * @param ms       the snapshot mixes footers and reads with mergeSchema
  * @param part     PHYSICAL hive partition column (`data/<col>=<val>/`)
  * @param schema   the snapshot's LOGICAL schema as DDL
  * @param stats    per-file min/max skipping stats (file, physical
  *                 column, lo, hi); null counts ride here under
  *                 '<col>#nulls' with lo = hi = the count
  * @param blooms   per-file bloom index (file, physical column, m bits,
  *                 k hashes, base64 bitset)
  * @param map      column mapping (logical, physical) per live column,
  *                 in schema order; None = identity. Physical names
  *                 never change once a file is written, so rename and
  *                 drop edit only this list
  * @param vsets    per-file distinct value sets (file, physical column,
  *                 values), at most [[TxTable.VsetMaxValues]] each
  * @param posd     merge-on-read deletion-vector sidecars, each holding
  *                 (_gf = data-file name, _gp = row ordinal) pairs the
  *                 snapshot read anti-joins away
  * @param rows     per-file row counts (Delta's numRecords)
  * @param index    the declared skipping index (PHYSICAL names, like
  *                 `part`), applied to every file a commit adds
  */
private[graft] final case class TxManifest(
    version: Int,
    op: String,
    commitMs: Long = 0L,
    txn: Option[(String, Long)] = None,
    ms: Boolean = false,
    part: Option[String] = None,
    schema: Option[String] = None,
    delta: Option[TxDelta] = None,
    files: Seq[String] = Nil,
    stats: Seq[(String, String, Double, Double)] = Nil,
    blooms: Seq[(String, String, Int, Int, String)] = Nil,
    map: Option[Seq[(String, String)]] = None,
    vsets: Seq[(String, String, Seq[String])] = Nil,
    posd: Seq[String] = Nil,
    rows: Seq[(String, Long)] = Nil,
    index: TxIndex = TxIndex()) {

  /** This state narrowed to `keep` (a subsequence of `files`): the
    * other files' per-file entries drop; deletion vectors, which name
    * sidecars rather than data files, stay.
    */
  def carrying(keep: Seq[String]): TxManifest = {
    val k = keep.toSet
    copy(files = keep, stats = stats.filter(e => k(e._1)),
      blooms = blooms.filter(e => k(e._1)), vsets = vsets.filter(e => k(e._1)),
      rows = rows.filter(e => k(e._1)))
  }

  /** `added`'s files and per-file entries after this state's. */
  def plus(added: TxManifest): TxManifest =
    copy(files = files ++ added.files, stats = stats ++ added.stats,
      blooms = blooms ++ added.blooms, vsets = vsets ++ added.vsets,
      rows = rows ++ added.rows)

  /** Every file name — data files, entry keys and sidecars — through `fn`. */
  def mapFiles(fn: String => String): TxManifest =
    copy(files = files.map(fn), stats = stats.map(e => e.copy(_1 = fn(e._1))),
      blooms = blooms.map(e => e.copy(_1 = fn(e._1))),
      vsets = vsets.map(e => e.copy(_1 = fn(e._1))), posd = posd.map(fn),
      rows = rows.map(e => e.copy(_1 = fn(e._1))))

  /** The resolved state: a delta applied over its parent's resolved
    * state (the removed files' entries drop with them); a resolved
    * manifest as is.
    */
  def resolve(parent: TxManifest): TxManifest = delta.fold(this) { d =>
    val gone = d.rm.toSet
    val kept = parent.carrying(parent.files.filterNot(gone))
    copy(delta = None, files = kept.files ++ files, stats = kept.stats ++ stats,
      blooms = kept.blooms ++ blooms, vsets = kept.vsets ++ vsets, rows = kept.rows ++ rows)
  }

  /** This resolved manifest in the delta form over resolved `parent`. */
  def deltaOver(parent: TxManifest): TxManifest = {
    val had = parent.files.toSet
    val now = files.toSet
    copy(delta = Some(TxDelta(parent.version, parent.files.filterNot(now), files.size)))
      .carrying(files.filterNot(had))
  }
}

/** The JSON codec of every record [[TxTable]] writes: version
  * manifests (compact, one object, empty entry lists omitted), refs
  * (`{"kind":…,"v":…}`) and staged write-audit-publish batches
  * (`{"wap":…,"files":[…]}`). Strings of any content round-trip
  * (JSON escaping); NaN and ±Infinity bounds render as JSON strings.
  */
private[graft] object TxManifest {

  private val mapper = new ObjectMapper()

  private def write(body: JsonGenerator => Unit): String = {
    val out = new java.io.StringWriter()
    val g = mapper.getFactory.createGenerator(out)
    g.writeStartObject(); body(g); g.writeEndObject(); g.close()
    out.toString
  }

  private def strings(g: JsonGenerator, name: String, xs: Seq[String]): Unit = {
    g.writeArrayFieldStart(name); xs.foreach(g.writeString); g.writeEndArray()
  }

  /** An array of entry objects, omitted when empty. */
  private def entries[A](g: JsonGenerator, name: String, xs: Seq[A])(
      fields: A => Unit): Unit = if (xs.nonEmpty) {
    g.writeArrayFieldStart(name)
    xs.foreach { x => g.writeStartObject(); fields(x); g.writeEndObject() }
    g.writeEndArray()
  }

  def render(m: TxManifest): String = write { g =>
    g.writeNumberField("version", m.version)
    g.writeStringField("op", m.op)
    g.writeNumberField("commit_ms", m.commitMs)
    m.txn.foreach { case (app, batch) =>
      g.writeObjectFieldStart("txn")
      g.writeStringField("app", app); g.writeNumberField("batch", batch)
      g.writeEndObject()
    }
    if (m.ms) g.writeNumberField("ms", 1)
    m.part.foreach(g.writeStringField("part", _))
    m.schema.foreach(g.writeStringField("schema", _))
    m.delta match {
      case None =>
        g.writeNumberField("n_files", m.files.size)
        strings(g, "files", m.files)
      case Some(d) =>
        g.writeNumberField("base", d.base)
        g.writeNumberField("n_files", d.nFiles)
        strings(g, "add", m.files)
        strings(g, "rm", d.rm)
    }
    entries(g, "stats", m.stats) { case (f, c, lo, hi) =>
      g.writeStringField("f", f); g.writeStringField("c", c)
      g.writeNumberField("lo", lo); g.writeNumberField("hi", hi)
    }
    entries(g, "bloom", m.blooms) { case (f, c, mBits, k, b) =>
      g.writeStringField("f", f); g.writeStringField("c", c)
      g.writeNumberField("m", mBits); g.writeNumberField("k", k)
      g.writeStringField("b", b)
    }
    m.map.foreach { mp =>
      g.writeArrayFieldStart("map")
      mp.foreach { case (n, p) =>
        g.writeStartObject(); g.writeStringField("n", n); g.writeStringField("p", p)
        g.writeEndObject()
      }
      g.writeEndArray()
    }
    entries(g, "vset", m.vsets) { case (f, c, vs) =>
      g.writeStringField("f", f); g.writeStringField("c", c); strings(g, "v", vs)
    }
    entries(g, "posd", m.posd)(f => g.writeStringField("f", f))
    entries(g, "rows", m.rows) { case (f, n) =>
      g.writeStringField("f", f); g.writeNumberField("n", n)
    }
    if (m.index != TxIndex()) {
      val x = m.index
      g.writeObjectFieldStart("index")
      Seq("stats" -> x.stats, "nulls" -> x.nulls, "bloom" -> x.blooms, "vset" -> x.sets)
        .foreach { case (k, cs) => if (cs.nonEmpty) strings(g, k, cs) }
      if (x.rows) g.writeNumberField("rows", 1)
      g.writeEndObject()
    }
  }

  private def malformed(what: String): Nothing =
    throw new IllegalArgumentException(s"TxTable: malformed manifest — $what")

  private def field(o: JsonNode, k: String): JsonNode = {
    val x = o.get(k)
    if (x == null || x.isNull) malformed(s"no '$k'") else x
  }

  private def str(o: JsonNode, k: String): String = {
    val x = field(o, k)
    if (x.isTextual) x.textValue else malformed(s"'$k' is not a string")
  }

  private def long(o: JsonNode, k: String): Long = {
    val x = field(o, k)
    if (x.canConvertToLong && x.isIntegralNumber) x.longValue
    else malformed(s"'$k' is not an integer")
  }

  /** A bound: a JSON number, or the string form of NaN / ±Infinity. */
  private def bound(o: JsonNode, k: String): Double = {
    val x = field(o, k)
    if (x.isNumber) x.doubleValue
    else if (x.isTextual) java.lang.Double.parseDouble(x.textValue)
    else malformed(s"'$k' is not a number")
  }

  private def list[A](o: JsonNode, k: String)(entry: JsonNode => A): Seq[A] =
    Option(o.get(k)).fold(Seq.empty[A]) { a =>
      if (!a.isArray) malformed(s"'$k' is not an array")
      val b = Seq.newBuilder[A]
      a.elements.forEachRemaining(e => b += entry(e))
      b.result()
    }

  private def textList(o: JsonNode, k: String): Seq[String] =
    list(o, k) { e =>
      if (e.isTextual) e.textValue else malformed(s"'$k' holds a non-string")
    }

  private def tree(txt: String): JsonNode = {
    val n = mapper.readTree(txt)
    if (n == null || !n.isObject) malformed("not a JSON object") else n
  }

  /** Absent optional fields take their defaults, so minimal manifests
    * (`{"version":2,"op":"append","n_files":0,"files":[]}`) parse, and a
    * manifest without `index` declares no skipping index. A manifest
    * still carrying key-form `tomb` deletes refuses: reading past them
    * would resurrect the rows they delete.
    */
  def parse(txt: String): TxManifest = {
    val n = tree(txt)
    if (n.has("tomb")) malformed("it records key-form 'tomb' deletes, which this " +
      "build no longer reads; compact the table with the previous build first")
    val delta = Option(n.get("base")).map(_ =>
      TxDelta(long(n, "base").toInt, textList(n, "rm"), long(n, "n_files").toInt))
    if (delta.isEmpty && !n.has("files")) malformed("neither 'files' nor 'base'")
    TxManifest(
      version = long(n, "version").toInt,
      op = str(n, "op"),
      commitMs = if (n.has("commit_ms")) long(n, "commit_ms") else 0L,
      txn = Option(n.get("txn")).map(t => (str(t, "app"), long(t, "batch"))),
      ms = n.has("ms") && long(n, "ms") == 1L,
      part = Option(n.get("part")).map(_ => str(n, "part")),
      schema = Option(n.get("schema")).map(_ => str(n, "schema")),
      delta = delta,
      files = textList(n, if (delta.isDefined) "add" else "files"),
      stats = list(n, "stats")(e => (str(e, "f"), str(e, "c"), bound(e, "lo"), bound(e, "hi"))),
      blooms = list(n, "bloom")(e =>
        (str(e, "f"), str(e, "c"), long(e, "m").toInt, long(e, "k").toInt, str(e, "b"))),
      map = Option(n.get("map")).map(_ => list(n, "map")(e => (str(e, "n"), str(e, "p")))),
      vsets = list(n, "vset")(e => (str(e, "f"), str(e, "c"), textList(e, "v"))),
      posd = list(n, "posd")(e => str(e, "f")),
      rows = list(n, "rows")(e => (str(e, "f"), long(e, "n"))),
      index = Option(n.get("index")).fold(TxIndex())(x => TxIndex(textList(x, "stats"),
        textList(x, "nulls"), textList(x, "bloom"), textList(x, "vset"),
        x.has("rows") && long(x, "rows") == 1L)))
  }

  def renderRef(kind: String, v: Int): String = write { g =>
    g.writeStringField("kind", kind); g.writeNumberField("v", v)
  }

  /** (kind, version) of a ref record; None for anything but a tag or
    * branch record.
    */
  def parseRef(txt: String): Option[(String, Int)] =
    scala.util.Try { val n = tree(txt); (str(n, "kind"), long(n, "v").toInt) }
      .toOption.filter { case (k, _) => k == "tag" || k == "branch" }

  def renderStaged(wapId: String, files: Seq[String]): String = write { g =>
    g.writeStringField("wap", wapId); strings(g, "files", files)
  }

  /** The files a staged write-audit-publish record names. */
  def parseStaged(txt: String): Seq[String] = textList(tree(txt), "files")
}
