package graft.store

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** File-listing-free read planning for a [[ParquetStore]]'s
  * partitioned trees — the Iceberg/Delta manifest idea at this store's
  * scale: reads plan from the `_manifest` directory instead of walking
  * the tree. On an object store a recursive listing of a minute-grained
  * tree is thousands of LIST calls (rate-limited, latency-bound); the
  * manifest makes read planning one LIST plus a handful of cached GETs.
  * (Reference storage layer: duo/src/partition/query.rs lists per
  * prefix; its FIXME'd cost at scale is what this removes.)
  *
  * TWO-LEVEL layout (round 19 — the Iceberg manifest-list shape,
  * replacing round 18's single-body generations): entry lists live in
  * immutable per-partition MANIFEST FILES (`_manifest/mf/mf-*`: one
  * `date=…` partition's entries — the partition key of every rel
  * under it; the subdirectory keeps the `_manifest` listing
  * O(generations) at any partition count), and a generation file
  * references manifests — by name, entry count and exact byte size,
  * so planning GETs them with no listing — instead of carrying
  * entries:
  *
  *  - a CHECKPOINT (`gen-*.list`, header `mlist=N`) lists the live
  *    manifest files — one line per manifest with its partition key
  *    and entry count — plus the absolute schema/tombstone state;
  *  - a DELTA (`gen-*.delta`) patches the manifest SET: `madd`/`mdel`
  *    lines plus tombstone changes and the required parent pointer.
  *
  * Why two levels: with entries inline, every plan folded the FULL
  * entry list (~320 ms of assembly at 10⁶ files) and every checkpoint
  * rollover rewrote an O(table) body (~6 MB gz at 10⁶, ~60 MB at
  * 10⁷). Now [[readStateFor]] assembles only the partitions a query's
  * time window admits — plan wall ∝ admitted partitions, flat as the
  * table grows — and a rollover rewrites manifests only for
  * partitions touched since the last checkpoint (untouched partitions
  * REUSE their manifest file by name, the Iceberg discipline), so
  * rollover bytes ∝ touched partitions. Commit cadence unchanged:
  * an append's delta writes one small manifest holding JUST the new
  * files (manifests per partition accumulate between checkpoints;
  * assembly resolves duplicate rels newest-manifest-wins, and the
  * rollover merges each partition back to one file); a drop rewrites
  * only the affected partitions' manifests. Entries with no `date=…`
  * leading segment ([[ParquetStore.writeStaged]]'s unpartitioned
  * files, spec fixtures) group under the catch-all partition key
  * `""`, which every admit function must pass.
  *
  * Format-compat contract: ONE format. Every generation is an
  * `mlist=` checkpoint or an `madd`/`mdel` delta over `mf-*` files,
  * plain or gzip, with or without an `info` line; anything else —
  * including the pre-round-19 inline `count=` checkpoints and
  * file-level `add`/`del` deltas, which this binary no longer reads —
  * is an unknown body form: reads skip it (falling back to the next
  * foldable generation or to listing mode) and vacuum stands down
  * while it is present (fail closed, never acknowledgeable). Every
  * manifest ref is keyed `date=…` or `""`: one manifest per date once
  * merged, whatever the date's size. Future formats announce
  * themselves per body with a `protocol` capability line
  * (`StoreManifest.SupportedProtocols`, empty in this binary),
  * rejected whole by a reader that lacks the capability.
  *
  * One commit form: every mutation — append, rewrite, retention,
  * mirror, vacuum — publishes the PATCH it knows ([[publish]]: files
  * added and dropped, tombstones added and reclaimed, the schema it
  * records), never an absolute file list the manifest would have to
  * diff. A never-committed store's first commit is a checkpoint of
  * exactly its adds; the caller folds duo's native layout into them.
  *
  * Snapshot-isolation contract (round-16, unchanged): the manifest
  * generation IS the commit point for every layout mutation. Rewrites
  * land in immutable `_gen-*` trees and become visible only when a new
  * generation referencing them publishes (single temp-write + rename —
  * the SAME rename atom whichever form the body takes; manifest files
  * are written BEFORE the generation that references them, so a
  * reader can never see a half-written manifest through a committed
  * generation). Files a mutation supersedes are never deleted inline —
  * they are recorded as tombstones IN the new generation and reclaimed
  * later by [[ParquetStore.vacuum]] once a grace window has passed.
  * [[publish]] retains the newest [[StoreManifest.KeepGens]]
  * generations and every one younger than [[StoreManifest.RetainMs]]
  * PLUS every older file their delta chains fold through,
  * PLUS every manifest file a retained generation references;
  * unreferenced manifest files are pruned with the generations that
  * referenced them. Torn bodies are rejected whole at every level
  * (self-counts + gzip CRC): a torn generation falls back to the
  * previous retained one, and a torn manifest file poisons exactly
  * the generations that reference it.
  *
  * Appends ([[ParquetStore.write]], and the LSM-shaped
  * [[ParquetStore.writeStaged]]) commit through the same rename as
  * rewrites. A `dirty-*` marker left in `_manifest` by an older
  * binary's direct appends names rows no generation lists, so every
  * read and commit refuses the store until it is compacted
  * (`listState`).
  *
  * The underscore prefix hides `_manifest` from Spark's partition
  * discovery, like the `_gen-*` trees.
  */
final class StoreManifest(fs: FileSystem, tableDir: String) {

  import StoreManifest.{CheckpointEvery, Dead, DeltaGen, Entry, FullGen,
    GenState, KeepGens, MfRef, RawGen, RetainMs, Snapshot, partKeyOf}

  /** Test seam (specs only): runs after [[publish]]'s expected-parent
    * pre-check passes, immediately before its rename — the only way a
    * spec can interleave a second publisher INSIDE the pre-check→
    * rename window and prove the post-rename conflict detection makes
    * that race loud instead of a silent lost update.
    */
  private[graft] var beforeRename: () => Unit = () => ()

  /** Test seam (specs only): the wall clock [[publish]]'s retention
    * ages generations against ([[StoreManifest.RetainMs]]), so a spec
    * can age a store's history without waiting it out.
    */
  private[graft] var clock: () => Long = () => System.currentTimeMillis()

  private def mdir = new Path(tableDir, "_manifest")

  /** Walk the legacy partitioned tree (skipping `_`/`.`-prefixed
    * subtrees: gen trees, the manifest itself) into entries
    * NOW, without publishing — what a first commit folds in, and the
    * fallback for metadata consumers when no generation exists.
    */
  def walkLegacy(): Seq[Entry] = walkEntries(new Path(tableDir))

  /** Walk one subtree (a just-written `_gen-*` dir) into entries whose
    * rels are relative to the TABLE dir (so they carry the gen
    * prefix). Bounded by the files the rewrite just wrote.
    */
  def walkSubtree(sub: String): Seq[Entry] =
    walkEntries(new Path(tableDir, sub))

  private def walkEntries(start: Path): Seq[Entry] = {
    val files = scala.collection.mutable.ArrayBuffer.empty[Entry]
    val rootUri = new Path(tableDir).toUri.getPath
    def walk(p: Path): Unit = StoreFs.list(fs, p).foreach { st =>
      val name = st.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        if (st.isDirectory) walk(st.getPath)
        else if (name.endsWith(".parquet")) {
          val full = st.getPath.toUri.getPath
          val rel = full.stripPrefix(rootUri).stripPrefix("/")
          files += Entry(rel, st.getLen, st.getModificationTime)
        }
      }
    }
    if (fs.exists(start)) walk(start)
    files.toSeq
  }

  // ---- raw generation bodies (parse layer) ----

  /** Clear-on-cap memo for derived views of IMMUTABLE files (written
    * once via temp+rename, never modified): a value keyed by
    * (name, size[, mtime]) stays valid for the file's lifetime, so a
    * warm planner re-GETs nothing. Bounded two ways: by KEY count (a
    * cadence-committing engine publishes every flush; months of
    * cadences must not pin every generation ever retained) and by
    * cumulative cached WEIGHT — an assembled snapshot of a 10⁶-file
    * table holds ~150 MB of Entry objects, so a count-only
    * cap would admit gigabytes. The weight bound scales with the
    * largest single item (one legitimately-huge parse must stay
    * cacheable without being evicted by its own size); `largest`
    * resets with the cache so a table compacted DOWN a tier
    * re-learns its working size. Only SUCCESSFUL computes are
    * cached: a None can be a transient I/O failure (an object-store
    * throttle), and caching it under an immutable key would make one
    * hiccup permanent until process restart — torn files therefore
    * re-read per plan, which is the right trade (they are rare and
    * small, and self-heal the moment the fault clears).
    */
  private final class CappedMemo[K, V](sizeCap: Int,
      weigh: V => Long) {
    private val m = scala.collection.concurrent.TrieMap.empty[K, V]
    private val entries = new java.util.concurrent.atomic.AtomicLong
    private val largest = new java.util.concurrent.atomic.AtomicLong
    def getOrCompute(key: K)(compute: => Option[V]): Option[V] =
      m.get(key) match {
        case hit @ Some(_) => hit
        case None =>
          val cap = math.max(StoreManifest.MemoEntryCap,
            2L * largest.get)
          if (m.size > sizeCap || entries.get > cap) {
            m.clear(); entries.set(0); largest.set(0)
          }
          val v = compute
          v.foreach { x =>
            val w = weigh(x)
            entries.addAndGet(w): Unit
            largest.getAndAccumulate(w, math.max(_, _)): Unit
            m.put(key, x): Unit
          }
          v
      }
  }

  private val parseMemo =
    new CappedMemo[(String, Long, Long), RawGen](
      StoreManifest.ParseMemoCap, {
        case f: FullGen => f.manifests.size.toLong
        case d: DeltaGen => d.mAdds.size.toLong
      })

  private def parseRaw(st: FileStatus): Option[RawGen] =
    parseMemo.getOrCompute(
      (st.getPath.getName, st.getLen, st.getModificationTime))(
      parseRawUncached(st.getPath))

  /** Read one small metadata file whole, gzip-sniffed (magic 1f 8b):
    * checkpoints and large manifest files compress ~13× (shared path
    * prefixes); deltas and small manifests stay uncompressed, so both
    * encodings must read. A TRUNCATED gzip
    * body throws (missing CRC trailer), the same whole-file rejection
    * a torn plain self-count gets.
    */
  private def readBody(p: Path): String = {
    val in = fs.open(p)
    val raw = try in.readAllBytes() finally in.close()
    bodyOf(raw)
  }

  /** Decode one metadata body from its raw bytes (the gzip-sniff
    * shared by generation and manifest parses — one place to keep the
    * torn-body/compat semantics).
    */
  private def bodyOf(raw: Array[Byte]): String =
    if (raw.length >= 2 && (raw(0) & 0xff) == 0x1f &&
        (raw(1) & 0xff) == 0x8b) {
      val gz = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(raw), 64 * 1024)
      try new String(gz.readAllBytes(), StandardCharsets.UTF_8)
      finally gz.close()
    } else new String(raw, StandardCharsets.UTF_8)

  private def parseRawUncached(p: Path): Option[RawGen] = {
    try {
      val lines = readBody(p).split("\n", -1).toSeq.dropRight(1)
      lines.headOption.flatMap { h =>
        if (h.startsWith("mlist=")) parseMlist(h, lines.drop(1))
        else if (h.startsWith("delta=")) parseDelta(h, lines.drop(1))
        else None
      }
    } catch {
      // any unreadable/corrupt generation (I/O, torn body, malformed
      // schema JSON — json4s throws its own parse exceptions) poisons
      // that GENERATION: the caller falls back to the next-older one
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Shared optional-header prefix of every body form: optional
    * `parent`, optional `schema`, optional `info`, in that order.
    * Returns (parent, schemaJson, info, remaining lines).
    */
  private def parseHeader(rest: Seq[String])
      : (Option[String], Option[String], Option[String], Seq[String]) = {
    val parentName = rest.headOption
      .filter(_.startsWith("parent\t")).map(_.stripPrefix("parent\t"))
    val afterParent = if (parentName.isDefined) rest.drop(1) else rest
    val schemaJson = afterParent.headOption
      .filter(_.startsWith("schema\t")).map(_.stripPrefix("schema\t"))
    val afterSchema = if (schemaJson.isDefined) afterParent.drop(1)
      else afterParent
    val info = afterSchema.headOption
      .filter(_.startsWith("info\t")).map(_.stripPrefix("info\t"))
    val afterInfo = if (info.isDefined) afterSchema.drop(1)
      else afterSchema
    (parentName, schemaJson, info, afterInfo)
  }

  /** Optional `protocol\t<name>` line after the headers — the Delta
    * protocol-action idea: a generation whose semantics need reader
    * capabilities beyond the base format names them, and a reader
    * that lacks the capability rejects the generation WHOLE (falls
    * back to an older generation or listing mode — stale but correct,
    * never silent wrong reads). Pre-protocol binaries get the same
    * loud degrade for free: their body parsers reject unknown lines
    * (count mismatch / malformed), and the expected-parent CAS makes
    * any mutation they then plan from the stale fallback fail loudly.
    * This binary emits no capability and interprets none
    * (`StoreManifest.SupportedProtocols` is empty), so every
    * `protocol` line rejects its generation — the fail-closed gate a
    * future format relies on.
    */
  private def parseProtocol(rest: Seq[String]): Option[Seq[String]] =
    rest.headOption.filter(_.startsWith("protocol\t")) match {
      case Some(l) =>
        if (StoreManifest.SupportedProtocols(
            l.stripPrefix("protocol\t"))) Some(rest.drop(1))
        else None // unknown capability: do not interpret the body
      case None => Some(rest)
    }

  /** The two-level checkpoint body: `mlist=N` (manifest-ref lines
    * only — last, so a torn suffix breaks the count), optional
    * headers, `dead` lines, `m` lines.
    */
  private def parseMlist(h: String, rest: Seq[String]): Option[RawGen] = {
    val (parentName, schemaJson, info, afterInfo0) = parseHeader(rest)
    val afterInfo = parseProtocol(afterInfo0).getOrElse(return None)
    val (deadLines, mLines) = afterInfo.span(_.startsWith("dead\t"))
    if (!h.stripPrefix("mlist=").toIntOption.contains(mLines.size))
      None
    else try {
      val schema = schemaJson.map(parseSchema)
      val dead = deadLines.map(l => parseDead(l.stripPrefix("dead\t")))
      val refs = mLines.map(parseMfRef(_, "m\t"))
      if (refs.forall(_.isDefined) && dead.forall(_.isDefined))
        Some(FullGen(parentName, refs.flatten, schema, dead.flatten,
          info))
      else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** One commit's patch: `delta=N` counts EVERY following line (any
    * torn suffix breaks it — deltas can be adds-free, so an entry-only
    * count would miss a truncation through the tombstone lines),
    * required `parent`, optional `schema` (ABSOLUTE state), optional
    * `info`, then `dead-`/`dead+`/`mdel`/`madd` lines; any other line
    * is malformed.
    */
  private def parseDelta(h: String, rest: Seq[String]): Option[RawGen] = {
    if (!h.stripPrefix("delta=").toIntOption.contains(rest.size))
      return None
    val (parentName, schemaJson, info, afterInfo0) = parseHeader(rest)
    val afterInfo = parseProtocol(afterInfo0).getOrElse(return None)
    if (parentName.isEmpty) return None // a delta without a parent is torn
    try {
      val schema = schemaJson.map(parseSchema)
      val deadMinus = scala.collection.mutable.ArrayBuffer.empty[String]
      val deadPlus = scala.collection.mutable.ArrayBuffer.empty[Option[Dead]]
      val mDels = scala.collection.mutable.ArrayBuffer.empty[String]
      val mAdds = scala.collection.mutable.ArrayBuffer.empty[Option[MfRef]]
      var malformed = false
      afterInfo.foreach {
        case l if l.startsWith("dead-\t") =>
          deadMinus += l.stripPrefix("dead-\t")
        case l if l.startsWith("dead+\t") =>
          deadPlus += parseDead(l.stripPrefix("dead+\t"))
        case l if l.startsWith("mdel\t") =>
          mDels += l.stripPrefix("mdel\t")
        case l if l.startsWith("madd\t") =>
          mAdds += parseMfRef(l, "madd\t")
        case _ => malformed = true
      }
      if (malformed || deadPlus.exists(_.isEmpty) ||
          mAdds.exists(_.isEmpty)) None
      else Some(DeltaGen(parentName.get, schema, mAdds.toSeq.flatten,
        mDels.toSeq, deadPlus.toSeq.flatten, deadMinus.toSeq, info))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def parseSchema(json: String)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  private def parseDead(l: String): Option[Dead] = l.split("\t") match {
    case Array(rel, millis) => millis.toLongOption.map(Dead(rel, _))
    case _ => None
  }

  private def parseEntry(l: String): Option[Entry] = l.split("\t") match {
    case Array(rel, size, mtime) =>
      (size.toLongOption, mtime.toLongOption) match {
        case (Some(s), Some(m)) => Some(Entry(rel, s, m))
        case _ => None
      }
    case _ => None
  }

  /** `<prefix><name>\t<partKey>\t<n>\t<size>` — partKey may be the
    * empty catch-all, so the split must keep empty fields. The ref
    * carries the manifest file's byte size so planning can GET it by
    * name with no listing or stat (and reject a torn copy by length
    * before parsing).
    */
  private def parseMfRef(l: String, prefix: String): Option[MfRef] =
    l.stripPrefix(prefix).split("\t", -1) match {
      case Array(name, part, n, size) if name.startsWith("mf-") =>
        (n.toLongOption, size.toLongOption) match {
          case (Some(nn), Some(sz)) => Some(MfRef(name, part, nn, sz))
          case _ => None
        }
      case _ => None
    }

  // ---- partition manifest files (mf layer) ----

  /** Manifest files live in their own `_manifest/mf/` SUBDIRECTORY so
    * the `_manifest` listing every plan and commit performs stays
    * O(generations) — with manifests inline, a 10⁴-partition table
    * made every LIST a 10⁴-entry scan and the "flat" windowed plan
    * grew with the table (measured 46→402 ms at 10⁶→10⁷ files).
    * Plans never list this directory at all: refs carry name + size,
    * so admitted manifests are GET-by-name; only checkpoint-commit
    * retention and vacuum list it.
    */
  private def mfdir = new Path(mdir, "mf")

  /** Immutable-file manifest parse memo keyed by (name, size) — the
    * ref IS the key, so a warm window plan re-GETs nothing and a
    * pruned read concatenates cached per-partition parses.
    */
  private val mfMemo =
    new CappedMemo[(String, Long), (String, Seq[Entry])](
      StoreManifest.MfMemoCap, _._2.size.toLong)

  private def parseMf(ref: MfRef): Option[(String, Seq[Entry])] =
    mfMemo.getOrCompute((ref.name, ref.size))(parseMfUncached(ref))

  /** Manifest body: `mf=N` (N counts every following line), one
    * `part` line, then entry lines — self-counted and typed like a
    * generation body. The referencing generation recorded the exact
    * byte size, so a mismatched length rejects before parsing; either
    * tear-check makes a torn manifest read as None and poison exactly
    * the generations referencing it.
    */
  private def parseMfUncached(ref: MfRef): Option[(String, Seq[Entry])] = {
    try {
      val p = new Path(mfdir, ref.name)
      val in = fs.open(p)
      val raw = try in.readAllBytes() finally in.close()
      if (raw.length.toLong != ref.size) return None
      val lines = bodyOf(raw).split("\n", -1).toSeq.dropRight(1)
      val rest = lines.drop(1)
      if (!lines.headOption.exists(h => h.startsWith("mf=") &&
          h.stripPrefix("mf=").toIntOption.contains(rest.size)))
        return None
      val part = rest.headOption.filter(_.startsWith("part\t"))
        .map(_.stripPrefix("part\t")).getOrElse(return None)
      val entries = rest.drop(1).map(parseEntry)
      if (entries.forall(_.isDefined)) Some((part, entries.flatten))
      else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Write one partition's manifest file. No rename needed: a
    * manifest is unreachable until a generation referencing it
    * commits (which happens strictly after this returns), so a crash
    * mid-write leaves an unreferenced torn file for vacuum, never a
    * readable half-manifest. Gzip above a threshold — large bodies
    * are ~90% shared path prefixes, small ones stay greppable. The
    * written byte count rides in the returned ref (and from there in
    * the generation body), so readers GET with no stat.
    */
  private def writeMf(partKey: String, entries: Seq[Entry]): MfRef = {
    fs.mkdirs(mfdir): Unit
    val name = f"mf-${System.currentTimeMillis()}%019d-" +
      java.util.UUID.randomUUID().toString
    val sorted = entries.sortBy(_.rel)
    val counted = new StoreManifest.CountingOutputStream(
      fs.create(new Path(mfdir, name), true))
    val sink: java.io.OutputStream =
      if (sorted.size > StoreManifest.MfGzipAbove)
        new java.util.zip.GZIPOutputStream(counted, 64 * 1024) {
          `def`.setLevel(java.util.zip.Deflater.BEST_SPEED)
        }
      else counted
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(sink, StandardCharsets.UTF_8),
      64 * 1024)
    try {
      w.write(s"mf=${sorted.size + 1}"); w.write('\n')
      w.write(s"part\t$partKey"); w.write('\n')
      sorted.foreach { e =>
        w.write(s"${e.rel}\t${e.size}\t${e.mtime}"); w.write('\n')
      }
    } finally w.close()
    MfRef(name, partKey, sorted.size.toLong, counted.count)
  }

  // ---- chain folding (snapshot layer) ----

  /** The generation files of one `_manifest` listing — the state
    * every read and commit starts from. The manifest files live under
    * `mf/` and are never listed on this path — refs carry name + size,
    * so the listing stays O(generations) whatever the partition count.
    *
    * The same listing shows any `dirty-*` marker an older binary's
    * direct appends left behind: those appends sit in the legacy tree
    * where no generation lists them, so planning from the manifest
    * would silently drop their rows. Such a store is refused loudly,
    * reads and commits alike, until an older binary's compact() folds
    * the appends.
    */
  private def listState(): Map[String, FileStatus] = {
    val all = StoreFs.list(fs, mdir)
    all.map(_.getPath.getName).find(_.startsWith("dirty-")).foreach(m =>
      throw new IllegalStateException(s"$tableDir: leftover marker " +
        s"_manifest/$m from an older binary's direct appends — their " +
        "rows are in no generation; run compact() with a build at or " +
        "before commit 658cacd to fold them, then reopen the store"))
    all.filter(_.getPath.getName.startsWith("gen-"))
      .map(s => s.getPath.getName -> s).toMap
  }

  /** Head-keyed fold memo, (name, size, mtime) like every other memo:
    * chain files are immutable, so a head's fold is valid as long as
    * the head file itself is.
    */
  private val foldMemo = new CappedMemo[(String, Long, Long), GenState](
    StoreManifest.ParseMemoCap, _.mfs.size.toLong)

  private def fold(name: String,
      statuses: Map[String, FileStatus]): Option[GenState] =
    statuses.get(name) match {
      case None => None
      case Some(st) =>
        foldMemo.getOrCompute(
          (name, st.getLen, st.getModificationTime))(
          foldUncached(name, statuses))
    }

  /** Fold one generation's chain: a checkpoint IS its state; a delta
    * patches its parent's fold's manifest set. None when this
    * generation — or ANY link its chain needs — is missing, torn or
    * cyclic: half a chain must read as no chain. Iterative one-pass
    * application (collect the chain, patch one keyed map): a per-link
    * rebuild would make folding O(size × depth) for no semantic gain.
    */
  private def foldUncached(name: String,
      statuses: Map[String, FileStatus]): Option[GenState] = {
    val chain =
      scala.collection.mutable.ArrayBuffer.empty[(String, RawGen)]
    var cur = name
    var full: Option[FullGen] = None
    while (full.isEmpty) {
      if (chain.size > StoreManifest.MaxChain) return None // cyclic
      statuses.get(cur).flatMap(parseRaw) match {
        case None => return None // missing/torn link poisons the head
        case Some(f: FullGen) => full = Some(f); chain += ((cur, f))
        case Some(d: DeltaGen) => chain += ((cur, d)); cur = d.parent
      }
    }
    val fg = full.get
    val mfMap = scala.collection.mutable.LinkedHashMap
      .from(fg.manifests.map(r => r.name -> r))
    val deadMap = scala.collection.mutable.LinkedHashMap
      .from(fg.dead.map(d => d.rel -> d))
    chain.dropRight(1).reverseIterator.foreach {
      case (_, d: DeltaGen) =>
        d.mDels.foreach(mfMap.remove(_): Unit)
        d.mAdds.foreach(r => mfMap(r.name) = r)
        d.deadMinus.foreach(deadMap.remove(_): Unit)
        d.deadPlus.foreach(x => deadMap(x.rel) = x)
      case _ => // unreachable: only the chain tail is a FullGen
    }
    val (parent, headInfo) = chain.head._2 match {
      case d: DeltaGen => (Some(d.parent), d.info)
      case f: FullGen => (f.parent, f.info)
    }
    Some(GenState(name, parent, mfMap.values.toSeq,
      deadMap.values.toSeq, depth = chain.size - 1, info = headInfo))
  }

  /** Assemble a folded state into its absolute entry list, reading
    * only the manifests `admit` passes (by partition key; the
    * catch-all `""` must always pass). Duplicate
    * rels across one partition's accumulated manifests resolve
    * newest-manifest-wins. None when any ADMITTED manifest is
    * missing or torn: half a snapshot must read as no snapshot (an
    * unreadable manifest OUTSIDE the admitted window deliberately
    * does not poison the window's answer).
    */
  private def assemble(st: GenState,
      admit: String => Boolean): Option[Seq[Entry]] = {
    val map = scala.collection.mutable.LinkedHashMap.empty[String, Entry]
    st.mfs.filter(r => admit(r.partKey)).foreach { r =>
      parseMf(r) match {
        case None => return None // torn/missing admitted manifest
        case Some((_, es)) => es.foreach(e => map(e.rel) = e)
      }
    }
    Some(map.values.toSeq.sortBy(_.rel))
  }

  /** The [[Snapshot]] reads and mutations plan from: a folded state,
    * its entries and the schema its head file records. A generation
    * that folds but records none was published by a build at or
    * before commit 1ac9815; planning from it throws rather than fall
    * back silently to an older generation.
    */
  private def snapshotOf(st: GenState, entries: Seq[Entry],
      statuses: Map[String, FileStatus]): Snapshot =
    Snapshot(st.gen, st.parent, entries, schemaOf(st.gen, statuses),
      st.dead, depth = st.depth, info = st.info)

  private def schemaOf(gen: String, statuses: Map[String, FileStatus])
      : org.apache.spark.sql.types.StructType =
    statuses.get(gen).flatMap(parseRaw).flatMap(rawSchemaOf)
      .getOrElse(throw new StoreManifest.MissingSchemaException(
      s"$tableDir: generation $gen records no schema — a build at or " +
        "before commit 1ac9815 published it; run compact() with such " +
        "a build to record one, then reopen the store"))

  /** Full-assembly memo, head-keyed: the planning read before a
    * mutation and the mutation's own parent fold share one assembly
    * instead of paying the O(files) concat+sort twice. Keyed on the
    * head generation file alone — manifest files it references are
    * immutable and outlive the head's retention, so the memo is valid
    * for the head file's lifetime.
    */
  private val snapMemo =
    new CappedMemo[(String, Long, Long), (GenState, Seq[Entry])](
      16, _._2.size.toLong) // full snapshots are the heavy items

  private def assembleFull(name: String, statuses: Map[String, FileStatus])
      : Option[(GenState, Seq[Entry])] =
    statuses.get(name) match {
      case None => None
      case Some(st) =>
        snapMemo.getOrCompute(
          (name, st.getLen, st.getModificationTime))(
          fold(name, statuses).flatMap(g =>
            assemble(g, _ => true).map(g -> _)))
    }

  /** The file names `name`'s fold reads, itself included (delta chain
    * back to its checkpoint) — what retention and vacuum must keep for
    * `name` to stay readable. Walks raw parents without folding; stops
    * at a checkpoint, a missing link, or the cycle guard.
    */
  private def chainNames(name: String,
      statuses: Map[String, FileStatus]): Seq[String] = {
    val acc = scala.collection.mutable.ArrayBuffer.empty[String]
    var cur: Option[String] = Some(name)
    while (cur.isDefined && acc.size <= StoreManifest.MaxChain) {
      val n = cur.get
      acc += n
      cur = statuses.get(n).flatMap(parseRaw) match {
        case Some(d: DeltaGen) => Some(d.parent)
        case _ => None
      }
    }
    acc.toSeq
  }

  /** Every generation file name needed to fold ANY of the given heads
    * (vacuum's and retention's keep-set).
    */
  private[graft] def neededFor(heads: Seq[String]): Set[String] = {
    val statuses = listState()
    heads.flatMap(chainNames(_, statuses)).toSet
  }

  /** The manifest files DIRECTLY referenced by the given generation
    * files' raw bodies (checkpoint `m` lines and delta `madd` lines) —
    * a superset of what any fold rooted in those files can read, so
    * keeping exactly these keeps every retained head assemblable.
    */
  private def mfsReferencedBy(gens: Iterable[FileStatus]): Set[String] =
    gens.flatMap(s => parseRaw(s).toSeq.flatMap {
      case f: FullGen => f.manifests.map(_.name)
      case d: DeltaGen => d.mAdds.map(_.name)
    }).toSet

  // ---- publish (commit layer) ----

  /** Publish one mutation's patch as a new generation and return its
    * name — the one commit form: every mutation states what it changed
    * (the files it added and dropped, the tombstones it added and
    * reclaimed, the schema it records), so a commit costs O(delta) CPU
    * and bytes. Adds-only partitions get a new manifest holding JUST
    * the adds (accumulation — merged back to one file per partition at
    * the next checkpoint); partitions with drops rewrite their
    * manifests (cost ∝ touched partition, never the table). Rolls a
    * checkpoint on cadence ([[StoreManifest.CheckpointEvery]]) or for
    * outsized patches. The temp-write + single-file rename is the
    * atomic commit point, behind an expected-parent CAS; prior
    * generations are retained (newest [[StoreManifest.KeepGens]] heads
    * and those younger than [[StoreManifest.RetainMs]], plus their
    * chains and referenced manifests) so a corrupt latest degrades to
    * the previous consistent snapshot instead of a tree walk.
    * Throws IllegalStateException when the parent no longer folds or
    * a touched partition's manifest is unreadable (the caller's
    * planning snapshot is gone — re-plan, like a CAS failure).
    * `parent = None` is a never-committed store's first commit: a
    * checkpoint of exactly `adds` and `deadPlus` (`drops` and
    * `deadMinus` name nothing yet).
    */
  def publish(adds: Seq[Entry], drops: Seq[String],
      deadPlus: Seq[Dead], deadMinus: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      parent: Option[String], info: Option[String] = None): String = {
    val ps = parent.map(p => fold(p, listState()).getOrElse(throw new
      IllegalStateException(s"$tableDir: publish parent " +
        s"$p no longer folds — re-plan and retry")))
    // approximate resulting size for the delta-vs-checkpoint heuristic
    // (duplicate rels across accumulated manifests skew it, but the
    // choice is cosmetic — both forms fold identically)
    val approxNewSize =
      ps.fold(0L)(_.approxSize) + adds.size - drops.size
    commitTwoLevel(ps, parent, adds, drops, deadPlus, deadMinus,
      StoreManifest.allNullable(schema), info, approxNewSize)
  }

  /** The shared two-level commit: decide delta vs checkpoint, write
    * the touched partitions' manifest files, then commit the
    * generation body through the CAS + rename atom. Any failure after
    * manifests were written deletes them before rethrowing (they are
    * unreferenced, but eager cleanup beats waiting for vacuum).
    */
  private def commitTwoLevel(parentState: Option[GenState],
      parentName: Option[String],
      adds: Seq[Entry], drops: Seq[String],
      deadPlus: Seq[Dead], deadMinus: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      info: Option[String], newSize: Long): String = {
    val patchLines = adds.size.toLong + drops.size + deadPlus.size +
      deadMinus.size
    // delta only atop a foldable parent, within the cadence, for a
    // patch smaller than the resulting table
    val isDelta = parentState.exists(ps =>
      ps.depth + 1 < CheckpointEvery &&
      patchLines < math.max(1L, newSize))
    val addsByPart = adds.groupBy(e => partKeyOf(e.rel))
    val dropsByPart = drops.groupBy(partKeyOf)
      .view.mapValues(_.toSet).toMap
    val newMfs = scala.collection.mutable.ArrayBuffer.empty[MfRef]
    // a partition's manifests read in fold order (later manifests win
    // a duplicate rel, as in assemble), patched, and re-emitted as one
    // fresh manifest; None when no entry survives
    def rewrite(part: String, refs: Seq[MfRef]): Option[MfRef] = {
      val cur = scala.collection.mutable.LinkedHashMap.empty[String, Entry]
      refs.foreach { r =>
        val parsed = parseMf(r).getOrElse(
          throw new IllegalStateException(s"$tableDir: partition " +
            s"manifest ${r.name} unreadable — re-plan and retry"))
        parsed._2.foreach(e => cur(e.rel) = e)
      }
      dropsByPart.getOrElse(part, Set.empty).foreach(cur.remove(_): Unit)
      addsByPart.getOrElse(part, Nil).foreach(e => cur(e.rel) = e)
      if (cur.isEmpty) None
      else {
        val r = writeMf(part, cur.values.toSeq)
        newMfs += r
        Some(r)
      }
    }
    try {
      val bodyLines: Iterator[String] = if (isDelta) {
        val mfsByPart = parentState.get.mfs.groupBy(_.partKey)
        val mDels = scala.collection.mutable.ArrayBuffer.empty[String]
        val mAdds = scala.collection.mutable.ArrayBuffer.empty[MfRef]
        (addsByPart.keySet ++ dropsByPart.keySet).toSeq.sorted
          .foreach { part =>
            if (!dropsByPart.contains(part)) {
              // pure append: one small manifest with just the adds —
              // the O(delta) cadence path
              val r = writeMf(part, addsByPart(part))
              newMfs += r; mAdds += r
            } else {
              val refs = mfsByPart.getOrElse(part, Nil)
              mDels ++= refs.map(_.name)
              mAdds ++= rewrite(part, refs)
            }
          }
        val lines = s"parent\t${parentName.get}" +:
          (s"schema\t${schema.json}" +: (infoLineOf(info) ++
            deadMinus.sorted.map(r => s"dead-\t$r") ++
            deadPlus.map(d => s"dead+\t${d.rel}\t${d.millis}")
              .sorted ++
            mDels.sorted.map(n => s"mdel\t$n") ++
            mAdds.map(r =>
              s"madd\t${r.name}\t${r.partKey}\t${r.n}\t${r.size}")
              .sorted))
        (s"delta=${lines.size}" +: lines).iterator
      } else {
        // checkpoint: final per-partition manifest set. Untouched
        // single-manifest partitions REUSE their file by name; touched
        // or accumulated (multi-manifest) partitions merge to one
        // fresh file — rollover bytes ∝ partitions touched since the
        // last checkpoint, never the table.
        val finalRefs = scala.collection.mutable.ArrayBuffer.empty[MfRef]
        val touched = addsByPart.keySet ++ dropsByPart.keySet
        parentState match {
          case Some(ps) =>
            val byPart = ps.mfs.groupBy(_.partKey)
            (byPart.keySet ++ touched).toSeq.sorted.foreach { part =>
              val refs = byPart.getOrElse(part, Nil)
              // an untouched partition with one manifest is reused BY
              // NAME; anything accumulated (parent + appends) merges
              // fresh in fold order
              if (!touched(part) && refs.size == 1) finalRefs ++= refs
              else finalRefs ++= rewrite(part, refs)
            }
          case None => // first publish: all partitions fresh
            addsByPart.toSeq.sortBy(_._1).foreach { case (part, es) =>
              val r = writeMf(part, es)
              newMfs += r; finalRefs += r
            }
        }
        val deadFinal = scala.collection.mutable.LinkedHashMap
          .from(parentState.map(_.dead).getOrElse(Nil)
            .map(d => d.rel -> d))
        deadMinus.foreach(deadFinal.remove(_): Unit)
        deadPlus.foreach(d => deadFinal(d.rel) = d)
        val mLines = finalRefs.sortBy(_.name)
          .map(r => s"m\t${r.name}\t${r.partKey}\t${r.n}\t${r.size}")
        Iterator(s"mlist=${mLines.size}") ++
          parentName.toSeq.map(p => s"parent\t$p") ++
          Iterator(s"schema\t${schema.json}") ++
          infoLineOf(info) ++
          deadFinal.values.map(d => s"dead\t${d.rel}\t${d.millis}")
            .toSeq.sorted ++
          mLines
      }
      commitBody(bodyLines, if (isDelta) ".delta" else ".list",
        parentName)
    } catch {
      case e: Throwable =>
        // the generation never committed (CAS rejection, rolled-back
        // race, I/O): the manifests written for it are unreferenced —
        // delete eagerly rather than leaving them for vacuum
        newMfs.foreach(r =>
          fs.delete(new Path(mfdir, r.name), false): Unit)
        throw e
    }
  }

  /** The shared commit tail: stream the body into a temp file (gzip
    * for checkpoints), expected-parent CAS, the rename atom,
    * post-rename conflict rollback, retention (generations AND the
    * manifest files only pruned generations referenced).
    */
  private def commitBody(bodyLines: Iterator[String], ext: String,
      parent: Option[String]): String = {
    fs.mkdirs(mdir): Unit
    val uuid = java.util.UUID.randomUUID().toString
    val tmp = new Path(mdir, s".tmp-$uuid")
    // checkpoints gzip (shared path/digit prefixes compress ~13×, and
    // the CRC trailer makes a torn body loudly unreadable); deltas
    // stay plain text: they are hundreds of bytes, and a greppable
    // commit log is worth more than the ~300 saved. BEST_SPEED: the
    // extra ratio of the default level is not worth tripling the
    // compress wall on every cadence rollover.
    val raw = fs.create(tmp, true)
    val sink: java.io.OutputStream =
      if (ext == ".list")
        new java.util.zip.GZIPOutputStream(raw, 64 * 1024) {
          `def`.setLevel(java.util.zip.Deflater.BEST_SPEED)
        }
      else raw
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(sink, StandardCharsets.UTF_8),
      64 * 1024)
    try bodyLines.foreach { l => w.write(l); w.write('\n') }
    finally w.close() // closes gzip (CRC trailer) then the file stream
    // expected-parent CAS, re-checked as late as the filesystem
    // allows (immediately before the rename atom): `parent` is the
    // newest generation the publishing mutation PLANNED from (None =
    // planned from a store with no manifest). If any other generation
    // is newest now, another writer committed since that planning
    // snapshot — landing this publish would make a stale file list
    // the newest truth, silently dropping the other writer's rows —
    // so the publish is rejected whole. A plain filesystem offers no
    // true compare-and-swap on rename, so a conflicting rename inside
    // the check→rename window is still conceivable; the window is
    // microseconds against mutations that run for minutes, and the
    // writer-lease re-verification every mutation performs just
    // before calling publish ([[ParquetStore]] `fence()`) closes the
    // practical remainder: both landing writers cannot each hold the
    // max lease.
    val newestNow = StoreFs.list(fs, mdir).map(_.getPath.getName)
      .filter(_.startsWith("gen-")).maxOption
    if (newestNow != parent) {
      fs.delete(tmp, false): Unit
      throw new StoreManifest.ConcurrentCommitException(
        s"$tableDir: publish expected parent generation " +
          s"${parent.getOrElse("(none)")} but newest is " +
          s"${newestNow.getOrElse("(none)")} — another writer " +
          "committed since this mutation's planning snapshot")
    }
    beforeRename()
    val gen = new Path(mdir,
      f"gen-${System.currentTimeMillis()}%019d-$uuid$ext")
    if (!fs.rename(tmp, gen))
      throw new java.io.IOException(s"manifest publish failed: $gen")
    // post-rename conflict detection closes the pre-check→rename race:
    // two publishers that BOTH passed the pre-check before either
    // renamed have both landed a generation over the same parent — the
    // filesystem gave each a distinct file, so neither rename failed,
    // and whichever sorts last would silently supersede the other's
    // entries and tombstones. Re-list now: if ANY other generation
    // newer than the parent exists, THIS publish rolls its own
    // generation back and fails loudly — regardless of which name
    // sorts higher, because the other publisher may already have
    // returned success and its commit must stay the truth. Outcomes:
    // sequential-but-racing publishers → exactly one winner (the first
    // post-checker sees only itself); truly simultaneous ones → both
    // roll back and throw (spurious CAS failure — callers re-plan and
    // retry), never a silent lost update. Residuals (documented, not
    // closable on a plain filesystem — rename is the only atom):
    // inside the loser's rename→rollback window (microseconds), a
    // READER that lists then may briefly adopt the rolled-back
    // generation as truth, and a THIRD publisher planning from it
    // would chain onto a lineage omitting the race winner's commit.
    // The writer lease ([[ParquetStore]] fencing, re-verified at every
    // commit point) is the actual mutual exclusion that makes racing
    // publishers impossible; this CAS + rollback is its
    // belt-and-braces for the misconfigured-second-writer case it
    // exists to catch.
    // ONE post-rename listing serves the conflict check, generation
    // retention and manifest retention below (separate listings made
    // the delta commit's wall grow for no reason — measured 25→248 ms
    // at 10³→10⁶ files before consolidation). THE COMMIT IS DURABLE
    // FROM THE RENAME: a transient failure of this listing must not
    // escape as a publish failure — the caller's cleanup would treat
    // the landed commit as never-committed and delete the manifests
    // its generation references, permanently poisoning the newest
    // head. An empty list skips the belt-and-braces conflict check
    // (the writer lease is the actual mutual exclusion) and makes
    // this commit's retention a no-op — bytes until the next commit
    // retries, never truth.
    val postList = try StoreFs.list(fs, mdir)
      catch { case scala.util.control.NonFatal(_) => Seq.empty }
    val conflicting = postList.map(_.getPath.getName)
      .filter(n => n.startsWith("gen-") && n != gen.getName &&
        parent.forall(_ < n))
    if (conflicting.nonEmpty) {
      // rollback; if this delete itself fails, the loser generation
      // stays on disk but its manifests are deleted by the caller's
      // cleanup — readers then reject it whole and fall back to the
      // race winner, which IS the correct truth either way
      fs.delete(gen, false): Unit
      throw new StoreManifest.ConcurrentCommitException(
        s"$tableDir: publish of ${gen.getName} lost a race over parent " +
          s"${parent.getOrElse("(none)")} to ${conflicting.sorted.last} " +
          "— rolled back; re-plan from the new newest generation")
    }
    // THE COMMIT IS DURABLE FROM HERE. Everything below is
    // best-effort housekeeping and must not be able to fail the
    // publish: an exception escaping after the rename would make the
    // caller's cleanup treat a LANDED commit as never-committed and
    // delete the manifests its generation references — permanently
    // poisoning the newest head. A throttled LIST/DELETE costs
    // retained bytes until the next commit retries, never truth.
    try {
      // retain the newest KeepGens generation HEADS and every head
      // younger than RetainMs, plus every older file their delta
      // chains fold through, then every manifest file a surviving
      // generation references (readers take the newest FOLDABLE
      // head, so a failed delete costs bytes, not truth). Age-based
      // pruning beyond this is vacuum's job.
      val statuses = postList
        .filter(_.getPath.getName.startsWith("gen-"))
        .map(s => s.getPath.getName -> s).toMap
      val sorted = statuses.keys.toSeq.sorted
      val young = clock() - RetainMs
      val heads = sorted.takeRight(KeepGens) ++ sorted.filter(n =>
        n.stripPrefix("gen-").takeWhile(_.isDigit).toLongOption
          .forall(_ > young))
      val keep = heads.flatMap(chainNames(_, statuses)).toSet
      statuses.keys.filterNot(keep).foreach(n =>
        fs.delete(new Path(mdir, n), false): Unit)
      // manifest retention — on CHECKPOINT commits only: any mf a
      // KEPT generation's raw body names must survive (it is what
      // makes that head assemblable); the rest belonged to pruned
      // generations (or crashed commits) and go with them. Deltas
      // skip this — mf garbage only accrues from mdels and
      // generation pruning, both bounded between checkpoints, and
      // skipping keeps the delta commit's filesystem work
      // O(generations), never O(partitions). Single-writer fencing
      // means no other publisher has written-but-not-yet-committed
      // manifests to protect.
      if (ext == ".list") {
        val neededMfs = mfsReferencedBy(
          keep.toSeq.sorted.flatMap(statuses.get))
        StoreFs.list(fs, mfdir).map(_.getPath.getName)
          .filter(n => n.startsWith("mf-") && !neededMfs(n))
          .foreach(n => fs.delete(new Path(mfdir, n), false): Unit)
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    gen.getName
  }

  /** The operation-audit line, newline-scrubbed: the body is
    * line-oriented and self-counted, so a caller's stray newline must
    * not be able to tear every generation it publishes.
    */
  private def infoLineOf(info: Option[String]): Seq[String] =
    info.toSeq.map(i =>
      s"info\t${i.replace('\n', ' ').replace('\r', ' ')}")

  /** Generation file names, oldest → newest (vacuum's pruning input
    * and the time-travel coordinate list — checkpoints and deltas
    * both, since each names a complete snapshot via its fold).
    */
  def genNames(): Seq[String] =
    StoreFs.list(fs, mdir).map(_.getPath.getName)
      .filter(_.startsWith("gen-")).sorted

  /** Drop one generation file by name (vacuum). */
  def deleteGen(name: String): Unit =
    fs.delete(new Path(mdir, name), false): Unit

  /** Delete manifest files no retained generation references and
    * older than the grace window — crashed commits' debris (the
    * commit-time retention already prunes manifests with the
    * generations that referenced them; the grace guard here is
    * belt-and-braces for a torn in-flight commit). Returns the count.
    */
  private[graft] def vacuumOrphanManifests(graceMs: Long,
      now: Long = System.currentTimeMillis()): Int = {
    val gens = listState()
    val needed = mfsReferencedBy(gens.values)
    val orphans = StoreFs.list(fs, mfdir).map(_.getPath.getName)
      .filter { n =>
        n.startsWith("mf-") && !needed(n) &&
          n.stripPrefix("mf-").takeWhile(_.isDigit)
            .toLongOption.forall(_ + graceMs <= now)
      }
    orphans.foreach(n => fs.delete(new Path(mfdir, n), false): Unit)
    orphans.size
  }

  /** One SPECIFIC retained generation's snapshot (time travel: its
    * data files live until vacuum's grace passes). None when the name
    * is gone, the body fails the self-checks, its delta chain lost a
    * link, or a referenced partition manifest is torn.
    */
  def readGen(name: String): Option[Snapshot] =
    if (!name.startsWith("gen-")) None
    else {
      val gens = listState()
      assembleFull(name, gens).map { case (st, es) =>
        snapshotOf(st, es, gens)
      }
    }

  /** Whether generation `name` folds whole — named, uncorrupt, full
    * chain, every manifest readable — whatever schema it records.
    */
  def readable(name: String): Boolean =
    name.startsWith("gen-") && assembleFull(name, listState()).isDefined

  /** One generation's OWN operation-audit string WITHOUT folding its
    * chain: the info line is per-commit raw metadata, so a memoized
    * single-file parse answers it — listing every retained
    * generation's audit (the `?info=true` route) must not pay
    * KeepGens × O(table) folds.
    */
  def genInfo(name: String): Option[String] =
    if (!name.startsWith("gen-")) None
    else listState().get(name).flatMap(parseRaw).flatMap(infoOf)

  /** Every retained generation's own audit string, resolved from ONE
    * `_manifest` listing — the `?info=true` route renders all retained
    * generations per request, and a per-name [[genInfo]] loop would
    * pay O(gens) directory listings (noticeable on object stores).
    */
  def genInfos(): Map[String, Option[String]] =
    listState().map { case (n, st) => n -> parseRaw(st).flatMap(infoOf) }

  private def infoOf(r: RawGen): Option[String] = r match {
    case f: FullGen => f.info
    case d: DeltaGen => d.info
  }

  private def rawSchemaOf(r: RawGen)
      : Option[org.apache.spark.sql.types.StructType] = r match {
    case f: FullGen => f.schema
    case d: DeltaGen => d.schema
  }

  /** Whether generation `name` records its schema: false only for one
    * a build at or before commit 1ac9815 published.
    */
  def recordsSchema(name: String): Boolean =
    listState().get(name).flatMap(parseRaw).flatMap(rawSchemaOf).isDefined

  /** The newest READABLE generation's snapshot, or None when no
    * generation folds whole — the caller then treats the store as
    * never-compacted (legacy listing mode). A torn write can't be
    * mis-read: the temp-name write + rename publishes whole files
    * only, and the self-count plus per-line field checks reject a
    * truncated or malformed body — which then falls back to the
    * PREVIOUS retained generation (a stale-but-consistent snapshot)
    * rather than to half a snapshot; a delta whose chain lost a link,
    * and a generation whose partition manifest is torn, are rejected
    * the same all-or-nothing way. Resolved from ONE `_manifest`
    * listing — the planning state every full read and mutation starts
    * from; folding and assembling the newest head costs no further
    * filesystem calls once the immutable-file memos are warm.
    */
  def read(): Option[Snapshot] = {
    val gens = listState()
    newestAssembled(gens).map { case (st, es) => snapshotOf(st, es, gens) }
  }

  private def newestAssembled(gens: Map[String, FileStatus])
      : Option[(GenState, Seq[Entry])] =
    gens.keys.toSeq.sorted(Ordering[String].reverse).iterator
      .flatMap(assembleFull(_, gens)).nextOption()

  /** The newest readable generation's name and tombstones — what
    * vacuum reclaims. No schema is needed, so a store an older build
    * left without one still reclaims its files.
    */
  def newestDead(): Option[(String, Seq[Dead])] =
    newestAssembled(listState()).map { case (st, _) => (st.gen, st.dead) }

  /** [[read]] restricted to the partitions `admit` passes (by
    * partition key — `date=…`, or the catch-all `""`, which admit must
    * always pass): the snapshot's entries cover ONLY admitted
    * partitions, and only their manifest files are read — the plan
    * wall of a windowed query scales with the partitions the window
    * admits, flat as the table grows. The pruned snapshot is a
    * PLANNING view: a mutation planned from it publishes its patch,
    * which never touches the non-admitted partitions.
    */
  def readStateFor(admit: String => Boolean): Option[Snapshot] = {
    val gens = listState()
    gens.keys.toSeq.sorted(Ordering[String].reverse).iterator
      .flatMap(h => fold(h, gens).flatMap(st =>
        assemble(st, admit).map(snapshotOf(st, _, gens))))
      .nextOption()
  }

  /** Generation files this binary cannot INTERPRET that are not mere
    * crash debris: an unknown body-form header, a `protocol`
    * capability outside `StoreManifest.SupportedProtocols` (the
    * shape a FUTURE binary's commits take), or a header region this
    * pass could not read whole (zero-byte / header-torn artifacts —
    * a non-atomic object-store copy can produce them — and transient
    * I/O faults, which must fail CLOSED: a throttle mis-classifying a
    * future generation as interpretable would run the destructive
    * sweeps in exactly the rollback scenario the gate exists for).
    * Vacuum treats any of these as "a newer binary owns this store's
    * tail" and stands its destructive sweeps down; each name carries
    * its classification reason so the stand-down is observable and an
    * operator can acknowledge-and-reclaim provably-dead debris
    * ([[ParquetStore.vacuum]]'s `reclaimUnknown`). A
    * torn-but-known-form generation (bad count, body truncated past
    * the header region) stays prunable debris and does NOT trip this;
    * a name pruned between the listing and the read is a raced
    * cleanup, not a hazard.
    *
    * The scan is bounded to the HEADER REGION — the form header plus
    * the optional parent/schema/info/protocol lines, which writers
    * always emit before any dead/entry/manifest line — and reads
    * line-streamed until the first complete non-header line, however
    * wide the header grows (a drifted-schema `schema\t` line can run
    * to megabytes; a fixed read cap would truncate the `protocol`
    * line away and silently fail the gate open). Any `protocol\t`
    * value outside `StoreManifest.SupportedProtocols` classifies,
    * exactly as the reader refuses to interpret it; a body line never
    * starts with `protocol\t` (`m`/`dead` and delta patch lines do
    * not), so no such line is ever mistaken for a capability.
    */
  private[graft] def futureFormatGens(): Seq[StoreManifest.UnknownGen] = {
    val gens = listState()
    gens.toSeq.sortBy(_._1).flatMap { case (n, st) =>
      try classifyHeader(n, st.getPath, st.getLen)
      catch {
        case _: java.io.FileNotFoundException => None // raced prune
        case scala.util.control.NonFatal(e) =>
          // fail CLOSED: an unreadable header stands the sweeps down
          // for THIS pass; the next tick re-reads (never memoized).
          // NOT reclaimable — a transient I/O fault must not make a
          // healthy generation acknowledgeable for deletion. (A
          // PERSISTENTLY unreadable artifact at this layer — e.g. a
          // bit-rotted file behind a stale checksum — is the one
          // stand-down with no in-API acknowledge path by design:
          // the store cannot distinguish it from a fault that will
          // clear, so removing it is deliberate out-of-band operator
          // surgery on the named file, never an API call.)
          Some(StoreManifest.UnknownGen(n,
            s"header unreadable this pass: ${e.getClass.getSimpleName}"))
      }
    }
  }

  /** One generation's header-region classification: None =
    * interpretable (known form, no unknown capability — includes torn
    * known-form debris whose tear lies PAST the header region);
    * Some(reason) = this binary cannot vouch for it.
    */
  private def classifyHeader(n: String, p: Path,
      expectedLen: Long): Option[StoreManifest.UnknownGen] = {
    val in = fs.open(p)
    try {
      val buf = new java.io.BufferedInputStream(in, 64 * 1024)
      buf.mark(2)
      val b0 = buf.read(); val b1 = buf.read()
      buf.reset()
      val isGzip = b0 == 0x1f && b1 == 0x8b
      val data: java.io.InputStream =
        if (isGzip)
          new java.io.BufferedInputStream(
            new java.util.zip.GZIPInputStream(buf, 64 * 1024), 64 * 1024)
        else buf
      try scanHeader(n, data)
      catch {
        // confined to the DECODE layer: the gzip magic matched and
        // the inflater then hit a tear/corruption inside the header
        // region (plain-stream EOFs fall through to the caller's
        // fail-closed non-reclaimable arm; a tear PAST the first
        // non-header line is never reached — the scan stops there).
        // Even here the tear is a fact about THE BYTES only if the
        // stream delivered the file's whole recorded length: an
        // object-store transport that truncates under connection
        // resets surfaces the same EOFException from the inflater, so
        // the raw length is re-verified before the artifact becomes
        // acknowledgeable — a short raw read classifies as the
        // transient non-reclaimable shape instead.
        case e @ (_: java.io.EOFException |
            _: java.util.zip.ZipException) if isGzip =>
          if (rawLengthConsistent(p, expectedLen))
            Some(StoreManifest.UnknownGen(n,
              s"torn gzip inside the header region " +
                s"(${e.getClass.getSimpleName})", reclaimable = true))
          else
            Some(StoreManifest.UnknownGen(n,
              "gzip header unreadable this pass (raw stream shorter " +
                "than the recorded length — transport fault, retried " +
                "next tick)"))
      }
    } finally in.close()
  }

  /** Whether a fresh raw read of `p` delivers exactly `expectedLen`
    * bytes — the transport-truncation probe behind the torn-gzip
    * reclaimability decision. Any failure reads as inconsistent
    * (fail closed).
    */
  private def rawLengthConsistent(p: Path, expectedLen: Long): Boolean =
    try {
      val in2 = fs.open(p)
      try {
        var total = 0L
        val b = new Array[Byte](64 * 1024)
        var r = in2.read(b)
        while (r > 0) { total += r; r = in2.read(b) }
        total == expectedLen
      } finally in2.close()
    } catch { case scala.util.control.NonFatal(_) => false }

  /** The header-region line scan of `classifyHeader` (split out so
    * the gzip-decode catch above wraps exactly the decode reads).
    */
  private def scanHeader(n: String,
      data: java.io.InputStream): Option[StoreManifest.UnknownGen] = {
    {
      val headerPrefixes =
        Seq("parent\t", "schema\t", "info\t", "protocol\t")
      val sb = new java.lang.StringBuilder
      var lineNo = 0
      var read = 0L
      while (true) {
        val c = data.read()
        read += 1
        // NOT reclaimable: ClassifyMaxBytes is a READER-local bound,
        // not a format invariant — a future binary can legitimately
        // rename-publish a wider header, and the acknowledge path
        // must never be able to delete it
        if (read > StoreManifest.ClassifyMaxBytes)
          return Some(StoreManifest.UnknownGen(n,
            s"header region exceeds ${StoreManifest.ClassifyMaxBytes} B"))
        if (c < 0) {
          // EOF: a clean end after complete header lines is a whole
          // (header-only) body; anything short of that is torn inside
          // the header region — uninterpretable, stand down (and
          // RECLAIMABLE: whole-file rename publishing means only dead
          // debris can look like this)
          return if (lineNo == 0 || sb.length > 0)
            Some(StoreManifest.UnknownGen(n,
              if (lineNo == 0 && sb.length == 0) "empty generation file"
              else "torn inside the header region", reclaimable = true))
          else None
        }
        if (c == '\n') {
          val line = sb.toString; sb.setLength(0)
          if (lineNo == 0) {
            if (!(line.startsWith("mlist=") || line.startsWith("delta=")))
              return Some(StoreManifest.UnknownGen(n,
                s"unknown body form '${line.take(32)}'"))
          } else if (line.startsWith("protocol\t")) {
            // `parseProtocol` rejects ANY unrecognized value whole —
            // multi-token included — so the classifier must flag
            // exactly what the reader refuses to interpret, or the
            // gate fails open on a future multi-token capability
            val cap = line.stripPrefix("protocol\t")
            if (!StoreManifest.SupportedProtocols(cap))
              return Some(StoreManifest.UnknownGen(n,
                s"future protocol capability '${cap.take(32)}'"))
          } else if (!headerPrefixes.exists(line.startsWith)) {
            // first complete non-header line: the header region is
            // whole and named no unknown capability — interpretable
            // (body-level tears are parse-layer debris, not a hazard)
            return None
          }
          lineNo += 1
        } else sb.append(c.toChar)
      }
      None // unreachable
    }
  }

  /** Every rel, live or tombstoned, of any retained readable
    * generation — vacuum's reference set: a tree referenced by ANY
    * retained generation is not an orphan. Schema-free, like
    * [[newestDead]].
    */
  def referencedRels(): Seq[String] = {
    val gens = listState()
    gens.keys.toSeq.flatMap(assembleFull(_, gens)).flatMap {
      case (st, es) => es.map(_.rel) ++ st.dead.map(_.rel)
    }
  }

  /** Whether a readable manifest generation is present (specs/gates). */
  def present: Boolean = newestAssembled(listState()).isDefined
}

object StoreManifest {
  /** Generation HEADS retained by [[StoreManifest.publish]] (plus the
    * chain files each head's fold needs and the manifest files they
    * reference): newest is the truth, older ones are corruption
    * insurance and the snapshot-isolation window's metadata (their
    * data files live until vacuum's grace passes).
    */
  val KeepGens: Int = 3

  /** Age below which [[StoreManifest.publish]] never prunes a
    * generation, however many newer ones exist. Every flush commits a
    * generation, so a count bound alone would cut time travel and CDC
    * to the last few flushes; this keeps them reaching back as far as
    * the engine's default vacuum grace, and [[ParquetStore.vacuum]]'s
    * own grace prunes past it.
    */
  val RetainMs: Long = 30L * 60L * 1000L

  /** Checkpoint cadence: a publish whose parent chain has already
    * grown this long folds the chain into a full `.list` checkpoint
    * instead of appending another delta — bounding both the fold
    * depth a read pays and the per-partition manifest accumulation
    * (the rollover merges each touched partition back to one file).
    * Ten is Delta Lake's own default ratio of commits per checkpoint
    * neighborhood at this metadata scale.
    */
  val CheckpointEvery: Int = 10

  /** Fold-depth guard: no legal chain exceeds [[CheckpointEvery]], so
    * anything past this is a corrupt/cyclic parent graph and the fold
    * rejects it rather than spinning.
    */
  private[store] val MaxChain: Int = 64

  /** Generation parse/fold memo bound: comfortably above the live
    * working set (KeepGens heads + one chain ≤ ~13 files) so
    * steady-state reads never evict, while a months-long cadence
    * can't pin every generation ever published.
    */
  private[store] val ParseMemoCap: Int = 64

  /** Manifest-file memo bound: the live working set is one manifest
    * per partition the active queries' windows admit plus the
    * accumulation tail — hundreds, not thousands; eviction just
    * re-GETs an immutable file.
    */
  private[store] val MfMemoCap: Int = 4096

  /** Cumulative cached-ENTRY bound shared by the memos' overflow
    * checks: ~4M entries ≈ 600 MB of cached metadata at most — enough
    * for the live working set of a million-file table, small enough
    * that time-traveling across many retained generations cycles the
    * cache instead of exhausting the driver heap.
    */
  private[store] val MemoEntryCap: Long = 4L * 1000L * 1000L

  /** Manifest bodies above this entry count gzip on write (shared
    * path prefixes compress ~13×); smaller ones stay plain — a
    * greppable flush-sized manifest is worth more than the bytes.
    */
  private[store] val MfGzipAbove: Int = 256

  /** Every reader capability THIS binary can interpret (see
    * `parseProtocol`): none. A generation that names any capability is
    * refused whole — among them the `protocol hour-split` generations
    * builds at or before commit 2b2ecd7 published for a date whose
    * manifest reached 10⁵ entries (their hot-date hour split, since
    * deleted): reads fall back past them and vacuum stands down while
    * one is retained.
    */
  private[store] val SupportedProtocols: Set[String] = Set.empty

  /** One generation this binary cannot vouch for (vacuum's stand-down
    * set): the file name, WHY it classified — the observability half
    * of the destructive-sweep gate — and whether the classification
    * PROVES it dead debris (`reclaimable`): zero-byte, torn inside
    * the header region (plain-text incomplete line at true EOF, or a
    * gzip decode failure after the magic matched) — shapes a
    * whole-file rename publish cannot produce. Only reclaimable
    * entries may be acknowledged through `vacuum(reclaimUnknown)`;
    * an unknown-form / future-protocol / oversized-header generation
    * is (or may be) a NEWER binary's live commit, and a
    * transient-I/O classification proves nothing — none of those is
    * acknowledgeable for deletion.
    */
  final case class UnknownGen(name: String, reason: String,
      reclaimable: Boolean = false)

  /** Header-region read bound for the future-format classifier: far
    * above any real header (the widest drifted-schema line measured is
    * hundreds of KB) while still bounding a corrupt no-newline blob's
    * scan. Exceeding it is uninterpretable — stand down, never assume.
    */
  private[store] val ClassifyMaxBytes: Long = 64L * 1024 * 1024

  /** One data file: path relative to the table dir (a leading
    * `_gen-…` segment names the rewrite tree it lives in), plus the
    * size and mtime a read plan needs to construct the `FileStatus`
    * without touching the filesystem.
    */
  final case class Entry(rel: String, size: Long, mtime: Long)

  /** One tombstone: a superseded file (still on disk) and the wall
    * clock of the mutation that killed it — vacuum deletes it once
    * `millis + grace` has passed.
    */
  final case class Dead(rel: String, millis: Long)

  /** One partition-manifest reference as a generation body carries
    * it: the immutable file name under `_manifest/mf/`, the partition
    * key its entries share (`partKeyOf`: `date=…`, or `""` for the
    * catch-all), its
    * entry count (pruning and size heuristics — duplicates across a
    * partition's accumulated manifests make it an upper bound), and
    * its exact byte size (planning GETs by name with no listing or
    * stat, and rejects a torn copy by length).
    */
  private[graft] final case class MfRef(name: String, partKey: String,
      n: Long, size: Long)

  /** One parsed generation FILE, before chain folding. A checkpoint
    * carries the absolute state as `manifests` refs; a delta carries
    * one commit's manifest-set patch (`mAdds`/`mDels`) plus its
    * required parent pointer. Both carry the ABSOLUTE schema, so a
    * generation's schema is its own file's. Every commit records one;
    * `schema` is None only in a generation a build at or before commit
    * 1ac9815 published, which planning refuses.
    */
  private sealed trait RawGen
  private final case class FullGen(parent: Option[String],
      manifests: Seq[MfRef],
      schema: Option[org.apache.spark.sql.types.StructType],
      dead: Seq[Dead], info: Option[String]) extends RawGen
  private final case class DeltaGen(parent: String,
      schema: Option[org.apache.spark.sql.types.StructType],
      mAdds: Seq[MfRef], mDels: Seq[String],
      deadPlus: Seq[Dead], deadMinus: Seq[String],
      info: Option[String]) extends RawGen

  /** One generation's chain-folded state at the MANIFEST level: the
    * live manifest refs plus the chain-absolute tombstones (the schema
    * is the head file's own). Cheap (O(partitions), no entry
    * assembly) — what commits plan from.
    */
  private final case class GenState(gen: String, parent: Option[String],
      mfs: Seq[MfRef], dead: Seq[Dead], depth: Int, info: Option[String]) {
    def approxSize: Long = mfs.map(_.n).sum
  }

  /** Byte counter for manifest writes: the ref records the exact
    * on-disk size without a post-write stat round trip.
    */
  private[store] final class CountingOutputStream(
      out: java.io.OutputStream) extends java.io.OutputStream {
    var count: Long = 0L
    override def write(b: Int): Unit = { out.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len); count += len
    }
    override def flush(): Unit = out.flush()
    override def close(): Unit = out.close()
  }

  /** The partition key a rel groups under: its leading `date=…` path
    * segment (a rewrite-tree `_gen-…` prefix is stripped first — a
    * tree is WHERE bytes live, not what partition they belong to), or `""`
    * for anything else (root-level files, a staged tree's files). The
    * admit functions [[StoreManifest.readStateFor]] takes receive exactly
    * these keys and must always pass `""`.
    */
  private[graft] def partKeyOf(rel: String): String = {
    val l = logicalRel(rel)
    val i = l.indexOf('/')
    if (i > 0) {
      val seg = l.substring(0, i)
      if (seg.startsWith("date=")) seg else ""
    } else ""
  }

  /** rel → rel without its leading `_gen-…` tree segment: the LOGICAL
    * path (`date=…/hour=…/minute=…/file`), the coordinate space
    * partition keys, prefixes, planning and grain checks operate in. A
    * rewrite tree is an implementation detail of WHERE a partition's
    * bytes live.
    */
  private[store] def logicalRel(rel: String): String =
    if (rel.startsWith("_gen-")) rel.substring(rel.indexOf('/') + 1)
    else rel

  /** One manifest generation's FOLDED, ASSEMBLED state: its own file
    * name, the parent generation it committed over (None = first
    * ever), the live-file list (complete, or window-pruned when it
    * came from [[StoreManifest.readStateFor]]), the merged data
    * schema every read of it plans with, the cumulative
    * not-yet-vacuumed tombstones, and the delta-chain depth since the
    * last checkpoint (0 = this generation IS a checkpoint). The
    * recorded parent makes each generation's lineage auditable and is
    * what the expected-parent CAS verifies. `info` is this
    * generation's OWN operation-audit string (the Delta commitInfo
    * idea), not folded through the chain: each commit describes
    * itself.
    */
  final case class Snapshot(gen: String, parent: Option[String],
      entries: Seq[Entry],
      schema: org.apache.spark.sql.types.StructType,
      dead: Seq[Dead], depth: Int = 0,
      info: Option[String] = None) {
    def deadRels: Set[String] = dead.map(_.rel).toSet
  }

  /** A publish's expected-parent check failed: another writer
    * committed a generation after the mutation's planning snapshot.
    * Landing the publish anyway would make a stale file list the
    * newest truth (dropping the other writer's committed rows), so
    * the mutation fails whole — re-plan from the new newest
    * generation and retry.
    */
  final class ConcurrentCommitException(msg: String)
    extends IllegalStateException(msg)

  /** A read or mutation planned from a generation that records no
    * schema — one a build at or before commit 1ac9815 published. Such
    * a store is refused, never read from an older generation; the
    * message names the fix.
    */
  final class MissingSchemaException(msg: String)
    extends IllegalStateException(msg)

  /** StructType.asNullable is private[spark]; same recursive relax —
    * a stored schema must read exactly as spark.read's inference
    * (all-nullable) or plan-level nullability would differ between the
    * manifest and listing paths.
    */
  private[store] def allNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    dt match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = allNullable(f.dataType), nullable = true)))
      case at: ArrayType => at.copy(
        elementType = allNullable(at.elementType), containsNull = true)
      case mt: MapType => mt.copy(keyType = allNullable(mt.keyType),
        valueType = allNullable(mt.valueType), valueContainsNull = true)
      case other => other
    }
  }

  private[store] def allNullable(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    allNullable(st: org.apache.spark.sql.types.DataType)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
}
