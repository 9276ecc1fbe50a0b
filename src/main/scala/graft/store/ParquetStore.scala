package graft.store

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Cold storage: time-partitioned parquet per table
  * (reference: duo/src/partition/writer.rs:22-63, reader
  * duo/src/partition/query.rs:28-78).
  *
  * Spark-first deviations (SURVEY §2.1 S2/S3, §4):
  *  - rows are partitioned by their OWN event time
  *    (`date=…/hour=…/minute=…` hive layout via partitionBy), not by the
  *    flush wall-clock minute — so partition pruning is correct even for
  *    late data, which the reference's layout gets wrong.
  *  - reads go through partition-column predicates; Catalyst prunes
  *    directories (replacing the manual prefix listing, kept as
  *    [[readPrefixes]] for the reference-shaped plan).
  *  - a parquet bloom filter on trace_id is written, matching the
  *    reference's bloom pruning for trace lookups
  *    (duo/src/partition/writer.rs:45-49).
  *
  * Storage portability (S5, duo/src/config.rs:69-132): every metadata
  * operation — existence probes, listings, marker files, manifest
  * publishes — runs on `org.apache.hadoop.fs.FileSystem` resolved from
  * the ROOT's scheme (`StoreFs`), so the same store code serves a
  * local path, an HDFS URI, or an `s3a://bucket/...` root.
  *
  * One landing path: every append ([[write]], [[writeStaged]]) and
  * rewrite lands a `_gen-*` tree and publishes a [[StoreManifest]]
  * generation, and every generation records the table's schema, so a
  * written store plans every read from its manifest and that schema —
  * no footer inference. Listing mode remains only for duo's native
  * layout, until the first commit folds it in: that commit infers the
  * layout's schema once and records it.
  *
  * Snapshot isolation (round-16; the reference has no analog — it
  * never rewrites files, duo/src/partition/writer.rs:55-59): layout
  * mutations never modify or delete a file a reader could have
  * planned. Rewrites land in immutable `_gen-<millis>-<uuid>` trees
  * under the table dir (underscore-hidden from legacy discovery);
  * the [[StoreManifest]] generation publish — one temp-write + rename
  * — is the single atomic commit point, carrying both the new live
  * file list and the tombstones of the files it supersedes. Superseded
  * files stay on disk until [[vacuum]] reclaims them after a grace
  * window, so a query planned from the previous generation (or
  * listing) in ANOTHER session executes green across a concurrent
  * [[compact]]/[[compactDate]]/[[expire]] — the Iceberg/Delta
  * discipline. There is no multi-directory swap left to tear: the only
  * rename any mutation performs is the single manifest file's, and a
  * torn generation is rejected whole by its self-count (readers fall
  * back to the previous retained generation).
  *
  * Writer fencing: the store is single-WRITER by contract; the
  * contract is enforced by an epoch lease under `_lock` — each store
  * instance claims `lease-<epoch>-<uuid>` (monotone epoch) before its
  * first mutation and re-verifies it still holds the lexicographic max
  * before every subsequent one, so a second writer on the same root
  * fences the first loudly ([[ParquetStore.WriterFencedException]])
  * instead of interleaving mutations into silent corruption. The lease
  * is verified TWICE per committing mutation — at mutation start and
  * again at the commit point, immediately before the manifest publish
  * — because a rewrite can run for minutes: a writer fenced mid-rewrite
  * must fail at its commit, not land a stale generation as the newest
  * truth. Belt-and-braces under the commit itself,
  * [[StoreManifest.publish]] is an expected-parent CAS: every commit
  * names the generation its planning snapshot read, and the publish
  * throws [[StoreManifest.ConcurrentCommitException]] when any other
  * generation is newest — so even a mutation that somehow passed both
  * lease checks cannot overwrite another writer's commit. Readers
  * never fence. In one process an instance's rewrites serialize on
  * its monitor (`mutation`), appends do not (`commitOver`).
  *
  * At scale: minute-grained dirs are only sensible for recent data; the
  * same layout compacts upward (minute→hour→day files) without changing
  * readers because pruning is on column predicates, not path strings.
  */
final class ParquetStore(spark: SparkSession, root: String, table: String,
    timeCol: String,
    bloomNdv: Long = ParquetStore.DefaultBloomNdv) {

  import StoreManifest.logicalRel

  private def dir = s"$root/$table"

  /** One FileSystem handle per store, resolved from the root's scheme
    * (Hadoop caches instances per scheme+authority, so this is the
    * same object Spark's own parquet source uses for the data files).
    */
  private val fs: FileSystem = StoreFs.fs(new Path(s"$root/$table"))

  private def ls(p: Path): Seq[FileStatus] = StoreFs.list(fs, p)

  /** Listing-free read planning + the mutation commit point (see
    * [[StoreManifest]]): reads plan from the newest readable
    * generation whenever one exists and fall back to listing the
    * legacy tree otherwise.
    */
  private val manifest = new StoreManifest(fs, dir)

  /** Process-wide mutation epoch for this table root, shared by every
    * in-process instance over the same (root, table): bumped after any
    * mutation that can change what a read plans (writes, commits,
    * compactions, expiry, vacuum). Pure memory — readers that memoize
    * a read PLAN (e.g. [[graft.DuoEngine]]'s cold-read memo) key on it
    * so any in-process writer — same instance or not — invalidates
    * them without an I/O round trip. Cross-process mutations are
    * outside this signal by design: tables are single-writer (fenced),
    * and cross-process readers construct fresh instances/plans.
    */
  private val epoch = ParquetStore.epochs.getOrElseUpdate(
    dir, new java.util.concurrent.atomic.AtomicLong)
  private[graft] def mutationEpoch: Long = epoch.get()
  private def bumpEpoch(): Unit = epoch.incrementAndGet(): Unit

  /** Whether reads currently plan from the manifest (specs/gates). */
  def manifestPresent: Boolean = manifest.present

  /** The manifest's relative data-file paths (specs). */
  private[graft] def manifestFiles: Option[Seq[String]] =
    manifest.read().map(_.entries.map(_.rel))

  /** The newest generation's recorded schema; None before the first
    * commit (specs).
    */
  private[graft] def manifestSchema: Option[StructType] =
    manifest.read().map(_.schema)

  /** The manifest's tombstoned-but-not-yet-vacuumed rels (specs). */
  private[graft] def manifestDead: Option[Seq[String]] =
    manifest.read().map(_.dead.map(_.rel))

  /** Retained manifest generations, oldest → newest — the snapshots
    * [[readGeneration]] can time-travel to. Retention is
    * [[StoreManifest.KeepGens]] generations plus every one younger
    * than [[StoreManifest.RetainMs]], pruned past the grace by
    * [[vacuum]]; the newest IS the current table.
    */
  def generations(): Seq[String] = manifest.genNames()

  /** One retained generation's operation-audit string (the Delta
    * commitInfo idea): which operation published it and its shape,
    * e.g. `{"op":"compact","granularity":"day","wrote":3,
    * "retired":7}`. None for pruned generations, torn generation
    * FILES, and pre-audit ones (the line is optional in the format).
    * The audit is per-commit metadata read from the head file alone —
    * a head whose delta CHAIN lost a link still reports its own line
    * even though [[readGeneration]] rejects it; audit and readability
    * are separate claims.
    */
  def generationInfo(gen: String): Option[String] =
    manifest.genInfo(gen)

  /** All retained generations' audit strings from one listing (the
    * batch form the `?info=true` route uses — per-name lookups would
    * pay one listing each).
    */
  def generationInfos(): Map[String, Option[String]] =
    manifest.genInfos()

  /** Whether one generation currently FOLDS whole (named, uncorrupt,
    * full chain) — the readability probe [[CdcFeed]] brackets its
    * diffs with. Distinct from "has rows": an empty table's
    * generation is readable.
    */
  def generationReadable(gen: String): Boolean = manifest.readable(gen)

  /** The newest retained READABLE generation committed at or before
    * `tsMillis` — generation names embed their commit wall-clock
    * millis, so a TIMESTAMP is a complete AS-OF coordinate (and,
    * resolved against several stores, a CONSISTENT one: each pins its
    * newest generation ≤ T, whatever mix of commits landed after).
    * Unreadable names are skipped, not resolved: a torn/foreign
    * gen-file whose name sorts into the range must degrade to the
    * previous readable coordinate (the same fallback every read
    * takes), not turn every asofTs query into a 404. This keeps the
    * cross-table consistency claim honest under the store's OWN truth
    * rule: a torn generation is not a commit anywhere — the live read
    * path serves the newest READABLE head too — so "each table's
    * newest readable generation ≤ T" is exactly "each table's truth
    * at instant T", torn debris or not. None when T
    * predates retention (nothing retained is old enough to answer T
    * truthfully — serving the oldest surviving generation instead
    * would silently misdate the answer) or no readable generation
    * exists. Note the empty-table edge: a readable generation with
    * ZERO entries resolves here, but [[readGeneration]] then answers
    * None (no files to plan) — callers surface that as "no data",
    * the same answer the plain read gives an empty store.
    */
  def generationAsOf(tsMillis: Long): Option[String] =
    ParquetStore.resolveAsOf(
      generations().filter(g => genFileMillis(g).exists(_ <= tsMillis)),
      genFileMillis, g => manifest.readGen(g).flatMap(_.parent),
      generationReadable)

  /** A named durable incremental CDC consumer over this store's
    * generation history — see [[CdcFeed]]. `keyCols` nonEmpty makes
    * increments row-exact under any lineage (the g16 semantics);
    * empty keeps them file-granular.
    */
  def cdcFeed(consumer: String, keyCols: Seq[String] = Nil): CdcFeed =
    new CdcFeed(this, fs, dir, consumer, keyCols)

  /** The MAIN table as of one retained generation — time travel, the
    * capability the commit protocol gives for free: a generation's
    * entries still name on-disk files until vacuum's grace passes, so
    * planning from an older generation answers exactly the table that
    * generation committed (partition pruning and schema included),
    * staged landings ([[writeStaged]]) included: each is a commit of
    * its own. None when the generation is pruned/corrupt or
    * names already-vacuumed files' tree shape (execution would then
    * fail on the missing files — time travel reaches as far as
    * retention ([[generations]]) and the vacuum grace allow).
    */
  def readGeneration(gen: String): Option[DataFrame] =
    manifest.readGen(gen).flatMap(snap =>
      relationFor(snap.entries, snap.schema))

  /** Generation-diff incremental read (CDC): the rows in files `genB`
    * references that `genA` does not — the incremental-consumer shape
    * Delta/Iceberg deployments feed downstream jobs with, derived here
    * entirely from the two retained manifests (no extra change files).
    * With no `keyCols` it is file-granular, so it is EXACT when the
    * mutations between the two generations only added data in new
    * files — appends landed and folded by a date-scoped
    * [[compactDate]], the rolling form maintenance takes at scale; a
    * whole-table [[compact]] between the generations rewrites every
    * byte into a fresh tree and the diff degenerates (correctly, but
    * uselessly) to the full table — the same caveat Delta's docs put
    * on file-level CDF without change files. None then when no file
    * was added.
    *
    * `keyCols` nonEmpty makes it ROW-exact (round 18, closing that
    * caveat): the rows whose `keyCols` exist in `genB` but nowhere in
    * `genA` — true inserts under ANY lineage, compactions included.
    * The file-granular prefilter keeps it cheap: a row in a file BOTH
    * generations reference is trivially in both tables (files are
    * immutable), so only genB's ADDED files need scanning; each
    * candidate is then anti-joined against genA's full key set —
    * column-pruned to the keys at the scan, distinct'd, broadcast by
    * AQE when small, shuffled on the key otherwise. Cost scales with
    * (rows in added files) + (genA's key cardinality), never the full
    * cross of both snapshots. Some(empty frame) when the lineage was
    * pure re-layout.
    *
    * Either way both generations must still be retained
    * ([[generations]]); None otherwise, or when genB plans empty.
    */
  def changesBetween(genA: String, genB: String,
      keyCols: Seq[String] = Nil): Option[DataFrame] =
    for {
      a <- manifest.readGen(genA)
      b <- manifest.readGen(genB)
      df <- newerRows(a, b, keyCols)
    } yield df

  /** The delete side of [[changesBetween]]: the rows in files `genA`
    * references that `genB` no longer does (row-exact on `keyCols`
    * when given: true deletes under any lineage) — what a downstream
    * consumer must INVALIDATE when retention ([[expire]]) ran between
    * the generations. Plannable only while the removed files are
    * still on disk (they are tombstoned, not deleted, until vacuum's
    * grace passes — the same window that bounds time travel). The
    * file-granular form has the insert side's rewrite caveat: a
    * compaction between the generations moves rows across files and
    * surfaces them here as removed (and in changesBetween as added) —
    * spurious-but-consistent churn.
    */
  def removedBetween(genA: String, genB: String,
      keyCols: Seq[String] = Nil): Option[DataFrame] =
    for {
      a <- manifest.readGen(genA)
      b <- manifest.readGen(genB)
      df <- newerRows(b, a, keyCols)
    } yield df

  /** The rows of `to`'s files that `from` does not reference; keyed,
    * anti-joined against `from`'s key set. An empty keyed subset plans
    * `to`'s full list limited to 0 (Catalyst's OptimizeLimitZero folds
    * it to an empty relation — no scan), so a pure re-layout still
    * yields a typed empty result instead of None.
    */
  private def newerRows(from: StoreManifest.Snapshot,
      to: StoreManifest.Snapshot, keyCols: Seq[String]): Option[DataFrame] = {
    val have = from.entries.map(_.rel).toSet
    val fresh = relationFor(to.entries.filterNot(e => have(e.rel)), to.schema)
    if (keyCols.isEmpty) fresh
    else fresh.orElse(relationFor(to.entries, to.schema).map(_.limit(0)))
      .map(df => relationFor(from.entries, from.schema).fold(df)(other =>
        // key columns only (column-pruned scan) + distinct: the anti
        // join's build side is the key SET, not the other snapshot
        df.join(other.select(keyCols.map(col): _*).distinct(),
          keyCols, "left_anti")))
  }

  /** Recursive delete (no-op when absent). */
  private def rm(p: Path): Unit = { fs.delete(p, true): Unit }

  // ---- writer fencing (epoch lease) ----

  private def lockDir = new Path(dir, "_lock")

  /** This instance's lease file name, once claimed. */
  @volatile private var myLease: Option[String] = None

  private def leaseNames(): Seq[String] =
    ls(lockDir).map(_.getPath.getName).filter(_.startsWith("lease-"))

  /** Claim (first mutation) or verify (every later mutation) this
    * instance's writer lease. Claiming creates a lease file with an
    * epoch strictly above every existing one; verification checks the
    * instance still holds the lexicographic max. Two instances
    * claiming concurrently create DISTINCT files (uuid suffix) — the
    * lexicographic winner proceeds, the loser throws on its own
    * verify. One LIST per mutation; mutations are heavyweight
    * (rewrites, flushes), so the fence is noise against them.
    */
  private def fence(): Unit = {
    // every mutator fences before touching state, so the fence is the
    // one choke point where the in-process mutation epoch must bump —
    // an entry-side bump invalidates any read plan memoized before the
    // mutation regardless of how the mutator exits
    bumpEpoch()
    fenceLease()
  }

  /** Wraps every public mutator body but [[write]]'s: rewrites of
    * one instance run one at a time under its monitor. The epoch bump
    * on EXIT pairs with the entry-side bump in `fence` (ADVICE r21):
    * a reader that plans between the two must not memoize the
    * pre-mutation plan under a key no later read distinguishes, and
    * an aborted partial landing must not be memo-servable either.
    */
  private def mutation[A](body: => A): A = synchronized {
    commitLock.synchronized { rewrites += 1 }
    try body finally {
      commitLock.synchronized {
        rewrites -= 1
        if (rewrites == 0) appendsInRewrite.clear()
      }
      bumpEpoch()
    }
  }

  /** Every commit of this instance (lease re-verify, newest truth,
    * publish) runs under this lock, which guards metadata work only.
    * It also guards `rewrites` (mutators in flight, nested ones
    * counted twice) and `appendsInRewrite` (appends committed while
    * one ran: generation → batch schema).
    */
  private val commitLock = new Object
  private var rewrites = 0
  private val appendsInRewrite =
    scala.collection.mutable.Map.empty[String, StructType]

  /** Trees appends are landing: unreferenced yet, so vacuum skips them. */
  private val landing =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Commit a patch planned from generation `planned`. Appends this
    * instance committed since then added only their own trees, which
    * the patch never drops, so it still applies over them: `publish`
    * gets the newest generation as parent and a widener adding their
    * columns to a recorded schema. Any other newer generation is
    * another writer's, and the CAS on `planned` fails.
    */
  private def commitOver[A](planned: Option[String])(
      publish: (Option[String], StructType => StructType) => A): A =
    commitLock.synchronized {
      fence()
      val newer =
        if (appendsInRewrite.isEmpty) Nil
        else manifest.genNames().filter(g => planned.forall(_ < g))
      val mine = newer.flatMap(appendsInRewrite.get)
      if (newer.isEmpty || mine.size < newer.size) publish(planned, identity)
      else publish(newer.lastOption,
        mine.foldLeft(_)(ParquetStore.appendSchema))
    }

  private def fenceLease(): Unit = leaseLock.synchronized { myLease match {
    case None =>
      val existing = leaseNames().sorted
      val epoch = existing.lastOption
        .flatMap(_.stripPrefix("lease-").takeWhile(_ != '-').toLongOption)
        .getOrElse(0L) + 1L
      val name = f"lease-$epoch%019d-${java.util.UUID.randomUUID()}"
      fs.mkdirs(lockDir): Unit
      fs.createNewFile(new Path(lockDir, name)): Unit
      myLease = Some(name)
      // prune leases strictly below ours (never a newer claimant's)
      leaseNames().filter(_ < name).sorted.dropRight(2)
        .foreach(n => fs.delete(new Path(lockDir, n), false): Unit)
      verifyLease(name)
    case Some(name) => verifyLease(name)
  } }
  private val leaseLock = new Object // appends fence off the monitor

  private def verifyLease(name: String): Unit = {
    val names = leaseNames()
    if (names.isEmpty || names.max != name)
      throw new ParquetStore.WriterFencedException(
        s"$dir: writer lease $name fenced by ${names.sorted.lastOption
          .getOrElse("(lock dir cleared)")} — another writer owns this store")
  }

  // ---- writes ----

  /** Append a batch — the one partitioned landing: the rows land in
    * a fresh `_gen-*` tree (`landGenTree`) and one generation
    * publish, carrying the caller's `info` audit line, makes them the
    * table's truth. That one rename is what [[CdcFeed.consumeInto]]
    * builds exactly-once delivery on. A crash before it leaves an
    * orphan tree for [[vacuum]]. The first write folds duo's native
    * layout into the first generation, serialized like a
    * `mutation`; later writes land with no lock held and take only
    * the commit lock, so a running rewrite never stalls them (it
    * commits over them, `commitOver`). The recorded schema stays
    * exact: the parent's columns plus the batch's new ones, the union
    * the footers merge to. A batch that re-types or re-cases a
    * recorded column throws [[ParquetStore.SchemaConflictException]]
    * before the publish; its landed tree is an orphan for [[vacuum]].
    * Rows spanning a WIDE event-time range belong in [[writeStaged]].
    */
  def write(batch: DataFrame, info: Option[String] = None): Unit =
    commitAppend(batch, info, landGenTree)

  /** Fast append for flushes whose EVENT-TIME spread would explode the
    * hive layout into thousands of tiny partition files — a streamed
    * ingest's cadenced flushes or a historical backfill (the w11
    * measurement: 2 flushes of a 7-year-spread span feed through
    * [[write]] = ~3,500 files and a 41 s sink). The batch lands
    * unpartitioned at the root of a fresh `_gen-*` tree, with NO
    * shuffle and no layout cost, and commits like a [[write]]: its
    * files are manifest entries at logical depth 0, in the catch-all
    * `""` partition every window admits. [[read]] filters them by the
    * row time predicate alone (directory pruning is deferred), and
    * [[compact]] folds them into the partitioned layout. This is the
    * LSM-shaped ingest split every real columnar store uses: land fast
    * now, organize in the background.
    */
  def writeStaged(batch: DataFrame): Unit =
    commitAppend(batch, None, (rows, gen) =>
      bloomWriter(rows).parquet(s"$dir/$gen"))

  private def commitAppend(batch: DataFrame, info: Option[String],
      land: (DataFrame, String) => Unit): Unit =
    if (truth().isEmpty) mutation(append(batch, info, land))
    else try append(batch, info, land) finally bumpEpoch()

  private def append(batch: DataFrame, info: Option[String],
      land: (DataFrame, String) => Unit): Unit = {
    fence()
    val batchSchema = StoreManifest.allNullable(batch.schema)
    val gen = newGenName()
    landing.add(gen): Unit
    try {
      land(batch, gen)
      beforeCommit()
      val landed = manifest.walkSubtree(gen)
      commitLock.synchronized {
        fence()
        val base = baseFor(None)
        val name = manifest.publish(adds = base.carried(Nil) ++ landed,
          drops = Nil, deadPlus = Nil, deadMinus = Nil,
          schema = ParquetStore.appendSchema(base.schema, batchSchema),
          parent = base.parent, info = info)
        if (rewrites > 0) appendsInRewrite(name) = batchSchema
      }
    } finally landing.remove(gen): Unit
  }

  /** Apply one CDC increment to this store AS A MIRROR, in ONE
    * manifest commit: rows whose `keyCols` match `removed` leave the
    * table and `adds` land, so a sink fed by
    * [[CdcFeed.consumeInto]]'s mirror mode equals the source's NET
    * state as of the consumed generation — the invalidation the
    * append-only [[write]] path deliberately leaves to the
    * consumer ([[CdcFeed]] `maxGenerations` stepping surfaces
    * mid-history removals a single jump would net out).
    *
    * Partition-scoped, the [[compactDate]] discipline: only the sink
    * date partitions the removed rows' own times touch, plus the
    * unpartitioned [[writeStaged]] landings (any of their rows may
    * carry a removed key), are read, anti-joined (key set distinct'd
    * and broadcast by AQE when small) and rewritten into the fresh
    * `_gen-*` tree the adds land in — O(touched dates + staged) data
    * movement, never the table. The one
    * generation publish (drops = the touched partitions' prior files,
    * adds = the rewrite + appends, caller `info` recording which
    * increment landed) is the same rename atom every commit uses, so
    * the exactly-once handshake holds: a crash before it leaves an
    * orphan tree and a replayable increment, after it a healable
    * cursor. Contract: a consumer `transform` must preserve `keyCols`
    * and the time column (they are the row identity and the partition
    * coordinate the removal is applied in).
    */
  def applyMirror(adds: Option[DataFrame], removed: Option[DataFrame],
      keyCols: Seq[String], info: Option[String] = None): Unit = mutation {
    require(keyCols.nonEmpty, "applyMirror needs row-identity keyCols")
    fence()
    // the removed side is read TWICE (affected dates here, the
    // anti-join build below) and it is a generation-diff plan over
    // source files — persist so each mirror step scans those files
    // once, not per consumer of the frame
    val removedCached = removed.map(_.persist())
    try {
    // affected sink dates from the REMOVED rows' own times — bounded
    // driver collect (distinct DATES, not rows; an increment touches
    // the handful of partitions its mutation did)
    val affectedDates: Set[String] = removedCached.map(
      _.select(date_format(timestamp_micros(col(timeCol)), "yyyy-MM-dd")
        .as("d")).distinct().collect().map(_.getString(0)).toSet)
      .getOrElse(Set.empty)
    def admits(pk: String): Boolean = pk.isEmpty ||
      affectedDates(pk.stripPrefix("date="))
    val t = baseFor(Some(admits))
    // a staged (depth-0) file has no date to scope by: any of its
    // rows may carry a removed key, so it is rewritten with the dates
    val affected = t.entries.filter { e =>
      val l = logicalRel(e.rel)
      val i = l.indexOf('/')
      if (i < 0) affectedDates.nonEmpty
      else affectedDates(l.substring(0, i).stripPrefix("date="))
    }
    val survivors = removedCached.flatMap { r =>
      relationFor(affected, t.schema).map(
        _.join(r.select(keyCols.map(col): _*).distinct(),
          keyCols, "left_anti"))
    }
    val toLand: Option[DataFrame] = (survivors, adds) match {
      case (Some(sv), Some(ad)) =>
        Some(sv.unionByName(ad, allowMissingColumns = true))
      case (sv, ad) => sv.orElse(ad)
    }
    val gen = newGenName()
    toLand.foreach(landGenTree(_, gen))
    // the recorded columns, then any the adds bring (the survivors
    // were read with the recorded schema)
    val schema = toLand.fold(t.schema)(r => ParquetStore.appendSchema(
      t.schema, StoreManifest.allNullable(r.schema)))
    commitRetiring(t, toLand.map(_ => gen), affected, schema, _ => info)
    } finally removedCached.foreach(_.unpersist(): Unit)
  }

  /** Replace the WHOLE table with `batch` in one manifest commit
    * (None = truncate): every prior file is
    * tombstoned, the new rows (if any) land in a fresh `_gen-*` tree,
    * and the single generation publish flips the truth — the
    * transactional landing a mirror consumer's RESYNC takes
    * ([[CdcFeed.consumeInto]]: retention outran the cursor, so the
    * sink must truncate-and-reload rather than append). Concurrent
    * readers planned before the replace stay green until the vacuum
    * grace passes, like every mutation.
    */
  def replaceCommitted(batch: Option[DataFrame],
      info: Option[String] = None): Unit = mutation {
    fence()
    val t = baseFor(None)
    val gen = newGenName()
    batch.foreach(landGenTree(_, gen))
    // a truncate keeps the recorded schema; a reload records its own
    commitRetiring(t, batch.map(_ => gen), t.entries,
      batch.fold(t.schema)(b => StoreManifest.allNullable(b.schema)),
      _ => info)
  }

  /** The one commit tail of every mutation that retires files
    * ([[compact]], [[compactDate]], [[applyMirror]],
    * [[replaceCommitted]], [[expire]]): walk the `_gen-*` tree the
    * mutation landed (if any), tombstone `retired` at `now` and
    * publish the patch over `base` through `commitOver` — appends
    * committed meanwhile are never dropped, so they survive. A
    * never-committed store's patch also carries its legacy walk minus
    * `retired` (`Base.carried`). `info` sees the landed entries. The
    * lease is re-verified here: a rewrite may have run for minutes,
    * and a writer fenced meanwhile must not land a stale truth.
    */
  private def commitRetiring(base: ParquetStore.Base,
      landed: Option[String], retired: Seq[StoreManifest.Entry],
      schema: StructType,
      info: Seq[StoreManifest.Entry] => Option[String]): Unit = {
    beforeCommit()
    val adds = landed.fold(Seq.empty[StoreManifest.Entry])(
      manifest.walkSubtree)
    val now = System.currentTimeMillis()
    commitOver(base.parent) { (parent, widen) =>
      manifest.publish(base.carried(retired) ++ adds,
        drops = retired.map(_.rel),
        deadPlus = retired.map(e => StoreManifest.Dead(e.rel, now)),
        deadMinus = Nil, schema = widen(schema), parent = parent,
        info = info(adds)): Unit
    }
  }

  /** Land `rows` in the immutable `_gen-*` tree `gen`: partition
    * columns derived from the row's own time, one file per touched
    * minute dir — the shared landing block of every partitioned
    * appending commit ([[write]] / [[applyMirror]] /
    * [[replaceCommitted]]).
    */
  private def landGenTree(rows: DataFrame, gen: String): Unit =
    bloomWriter(ParquetStore.withPartCols(rows, timeCol)
      // one task per partition dir, so a T-task flush over D minutes
      // lands D files, not T×D (measured ~1,900 one-KB files without);
      // the count is EXPLICIT because AQE otherwise coalesced a small
      // flush into ONE serial task (g13: 2-3.6 s, 31 of 32 cores idle)
      .repartition(spark.sparkContext.defaultParallelism,
        col("date"), col("hour"), col("minute")))
      .partitionBy("date", "hour", "minute")
      .parquet(s"$dir/$gen")

  /** The one writer every landing and rewrite goes through: it
    * overwrites its fresh `_gen-*` target and writes the trace_id
    * bloom filter sized by `bloomNdv`, so no path loses trace-lookup
    * pruning.
    */
  private def bloomWriter(rows: DataFrame): DataFrameWriter[Row] =
    rows.write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#trace_id", "true")
      .option("parquet.bloom.filter.expected.ndv#trace_id",
        bloomNdv.toString)

  def exists: Boolean = fs.exists(new Path(dir))

  // ---- truth resolution (what IS the table right now) ----

  /** The planning state one read or mutation works from: the newest
    * readable generation's live files, recorded schema and tombstones.
    * None ⇔ no readable manifest generation — the store is in legacy
    * listing mode (never written through [[write]] or compacted, or
    * catastrophic manifest loss).
    */
  private def truth(): Option[StoreManifest.Snapshot] = truthFor(None)

  /** [[truth]] restricted to the partitions `admit` passes (see
    * [[StoreManifest.readStateFor]]): only admitted partitions'
    * manifest files are read and only their entries assemble — the
    * windowed-read planning path whose wall scales with the window,
    * not the table. The pruned entry list is a PLANNING view;
    * mutations that republish absolute state use the full form.
    */
  private def truthFor(
      admit: Option[String => Boolean]): Option[StoreManifest.Snapshot] = {
    refuseLeftoverStaging()
    admit.fold(manifest.read())(manifest.readStateFor)
  }

  /** What a mutation plans from and commits over: the newest
    * generation (`truthFor`), or for a never-committed store its
    * legacy walk and the schema listing mode reads it with, inferred
    * here once from the walked files' footers. The commit records that
    * schema and folds the walk in (`Base.carried`): one walk, and no
    * other listing of the legacy tree.
    */
  private def baseFor(admit: Option[String => Boolean]): ParquetStore.Base =
    truthFor(admit) match {
      case Some(t) => ParquetStore.Base(Some(t.gen), t.entries, t.schema)
      case None =>
        val legacy = manifest.walkLegacy()
        ParquetStore.Base(None, legacy,
          ManifestFileIndex.footerSchema(spark, dir, legacy)
            .fold(new StructType())(StoreManifest.allNullable))
    }

  /** An older binary's [[writeStaged]] wrote plain files under
    * `_staging`, which no generation lists, so planning from the
    * manifest would silently drop their rows. Such a store is refused
    * loudly, reads and commits alike, until an older binary's
    * compact() folds them (files it tombstoned are already in the
    * table and pass). Probed once per instance: one `exists`, plus a
    * listing only when the directory is there.
    */
  @volatile private var stagingChecked = false
  private def refuseLeftoverStaging(): Unit = if (!stagingChecked) {
    val staging = new Path(dir, "_staging")
    if (fs.exists(staging)) {
      val dead = manifest.read().map(_.deadRels).getOrElse(Set.empty)
      ls(staging).map(_.getPath.getName)
        .find(n => n.endsWith(".parquet") && !dead(s"_staging/$n"))
        .foreach(n => throw new IllegalStateException(s"$dir: leftover " +
          s"_staging/$n from an older binary's writeStaged — its rows " +
          "are in no generation; run compact() with a build at or " +
          "before commit cc40fcd to fold them, then reopen the store"))
    }
    stagingChecked = true
  }

  /** Partition-admit function for a µs time window: the session-zone
    * calendar dates the window can touch (the same derivation the
    * write path's date_format uses for the dir names), boundary dates
    * kept whole — conservative at day granularity, so tightening only
    * changes the MANIFESTS READ, never the rows returned (the row
    * predicate stays exact). Manifests are keyed by date alone, so
    * the admit compares dates only. The catch-all `""` partition
    * always passes. None (= no pruning) for an unbounded read.
    */
  private def dateAdmitOf(startUs: Option[Long],
      endUs: Option[Long]): Option[String => Boolean] =
    if (startUs.isEmpty && endUs.isEmpty) None
    else {
      val zone = java.time.ZoneId.of(
        spark.conf.get("spark.sql.session.timeZone"))
      def dayOf(us: Long): String = java.time.LocalDate.ofInstant(
        java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L)),
        zone).toString
      val lo = startUs.map(dayOf)
      val hi = endUs.map(dayOf)
      // ISO dates compare chronologically as strings
      Some(pk => pk.isEmpty || {
        val d = pk.stripPrefix("date=")
        lo.forall(_ <= d) && hi.forall(d <= _)
      })
    }

  /** Test seam (specs only): runs after a mutation's rewrite fully
    * lands, immediately before its commit (the lease re-verify +
    * manifest publish) — the only way a spec can interleave a SECOND
    * writer's full mutation inside the first writer's in-flight one
    * and prove the publish-time fence + expected-parent CAS reject
    * the stale commit.
    */
  private[graft] var beforeCommit: () => Unit = () => ()

  private def treeRootOf(rel: String): String =
    if (rel.startsWith("_gen-")) rel.take(rel.indexOf('/')) else ""

  /** Partition depth of a rel's logical path: 0 = a [[writeStaged]]
    * file, 1 = date, 2 = hour, 3 = minute grain.
    */
  private def depthOf(rel: String): Int = logicalRel(rel).count(_ == '/')

  /** Plan the given entries as the logical table with ZERO
    * filesystem listings and no footer reads: one
    * [[ManifestFileIndex]] per partition depth over the recorded
    * `schema`, whatever
    * tree each file lives in (the index parses partition values from
    * the logical rel, so the legacy tree and every `_gen-*` tree of a
    * depth plan as ONE relation — a window over a day of flush trees
    * is one scan, not a union per flush). Spark's partition-path
    * parser refuses mixed `date=…` depths in one relation, so a
    * mixed-grain store unions one relation per depth by name, each
    * first passed through `perDepth` (depth, relation) — the hook a
    * read prunes every grain at its own granularity with — and then
    * stripped of its partition columns. None for no entries.
    */
  private def relationFor(entries: Seq[StoreManifest.Entry],
      schema: StructType,
      perDepth: (Int, DataFrame) => DataFrame = (_, df) => df)
      : Option[DataFrame] =
    entries.groupBy(e => depthOf(e.rel)).toSeq.sortBy(_._1)
      .flatMap { case (d, es) =>
        ManifestFileIndex.relation(spark, dir, es, schema, logicalRel)
          .map(df => ParquetStore.logical(perDepth(d, df)))
      }
      .reduceOption(_.unionByName(_, allowMissingColumns = true))

  /** The legacy tree as a DataFrame via Spark directory discovery,
    * None when it holds no data yet. Only listing mode plans this
    * way. Schema inference doubles as the
    * distributed "any files?" probe — a driver-side walk would not
    * scale to a real store's file count.
    */
  private def tryRead(path: String): Option[DataFrame] = {
    if (!fs.exists(new Path(path))) return None
    try Some(spark.read.option("mergeSchema", "true").parquet(path))
    catch {
      // "Unable to infer schema ... It must be specified manually" —
      // the path exists but holds no parquet footers
      case _: org.apache.spark.sql.AnalysisException => None
    }
  }

  /** Read with optional µs time-range pruning pushed onto the partition
    * columns. Dynamic log-schema drift across files (the reference's
    * open FIXME at duo/src/partition/query.rs:72-75) is settled by the
    * generation's recorded schema, the union every commit widens;
    * older files read the columns they lack as null. Only listing mode
    * (no generation yet) merges footers. Each partition depth is
    * pruned at its own grain before the union (`relationFor`), and
    * partition columns are dropped after pruning so the result
    * matches the logical table schema.
    */
  def read(startUs: Option[Long], endUs: Option[Long]): Option[DataFrame] = {
    if (!exists) return None
    val window: (Int, DataFrame) => DataFrame =
      prunedTo(_, _, startUs, endUs)
    // windowed reads assemble only the dates the window admits — the
    // manifest prune that keeps plan wall ∝ window as the table grows
    truthFor(dateAdmitOf(startUs, endUs)) match {
      case Some(tr) => relationFor(tr.entries, tr.schema, window)
      case None =>
        tryRead(dir).map { b =>
          val d = Seq("date", "hour", "minute").count(b.columns.contains)
          ParquetStore.logical(window(d, b))
        }
    }
  }

  /** `base`, one relation at partition depth `depth`, restricted to
    * the µs window: a partition predicate at the relation's own grain
    * (none for depth-0 staged files) plus the exact row predicate on
    * the time column; both push down (partition pruning + parquet
    * row-group stats). The partition predicate is conservative
    * (boundary partitions kept whole) and the row filter is exact, so
    * the grain changes the FILES READ, never the rows returned: a
    * one-hour window over a year-deep minute store plans ~60 files
    * instead of a whole day's 1,440.
    */
  private def prunedTo(depth: Int, base: DataFrame, startUs: Option[Long],
      endUs: Option[Long]): DataFrame = {
    val hasHour = depth >= 2
    // minute-grain pruning additionally requires the session zone to
    // have NO UTC-offset transition near the bound instant: in a DST
    // fall-back hour the repeated local minutes are not monotone in
    // event time (01:05 EST is AFTER 01:50 EDT), so a minute bound
    // would prune same-hour partitions holding in-window rows. Near
    // a transition the boundary HOUR is kept whole instead — ≤59
    // extra files planned, rows unchanged (the row predicate is
    // exact either way).
    val hasMinute = depth >= 3
    // bound values via the SAME date_format derivation the write path
    // uses (session-timezone; foldable, so partition pruning still
    // constant-folds them) — pure-UTC arithmetic here would silently
    // prune rows on non-UTC sessions, where a row's partition day
    // differs from its UTC day
    def dayStr(us: Long) =
      date_format(timestamp_micros(lit(us)), "yyyy-MM-dd")
    def hourStr(us: Long) =
      date_format(timestamp_micros(lit(us)), "HH").cast("int")
    def minStr(us: Long) =
      date_format(timestamp_micros(lit(us)), "mm").cast("int")
    val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone"))
    def minuteSafe(us: Long): Boolean = {
      val rules = zone.getRules
      rules.isFixedOffset || {
        val inst = java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L))
        val next = rules.nextTransition(inst.minusSeconds(3600))
        next == null || next.getInstant.isAfter(inst.plusSeconds(3600))
      }
    }
    def prune(us: Long, lower: Boolean): org.apache.spark.sql.Column = {
      val d = dayStr(us); val h = hourStr(us); val m = minStr(us)
      val sameDay =
        if (lower) col("date") > d else col("date") < d
      if (hasMinute && minuteSafe(us)) sameDay || (col("date") === d &&
        (if (lower) col("hour") > h ||
            (col("hour") === h && col("minute") >= m)
         else col("hour") < h ||
            (col("hour") === h && col("minute") <= m)))
      else if (hasHour) sameDay || (col("date") === d &&
        (if (lower) col("hour") >= h else col("hour") <= h))
      else if (lower) col("date") >= d
      else col("date") <= d
    }
    val partPred =
      if (depth == 0) None
      else (startUs.map(prune(_, lower = true)) ++
        endUs.map(prune(_, lower = false))).reduceOption(_ && _)
    val rowPred = (startUs, endUs) match {
      case (Some(s), Some(e)) => Some(col(timeCol).between(s, e))
      case (Some(s), None) => Some(col(timeCol) >= s)
      case (None, Some(e)) => Some(col(timeCol) <= e)
      case _ => None
    }
    (partPred ++ rowPred).reduceOption(_ && _).fold(base)(base.where)
  }

  // ---- compaction (manifest-commit protocol) ----

  private def newGenName(): String =
    f"_gen-${System.currentTimeMillis()}%013d-" +
      java.util.UUID.randomUUID().toString

  /** Compact ONE date partition — the incremental form compaction
    * actually takes at scale: a rolling background job over
    * partitions older than the hot ingest tail, never a whole-table
    * rewrite (at 100 TB the [[compact]] full rewrite is a migration
    * tool, not a cadence). The date's current files (whatever trees
    * they live in) are rewritten into a fresh immutable `_gen-*` tree;
    * the manifest publish — a patch dropping and tombstoning the
    * date's files and adding the rewrite's — is the atomic commit. It
    * is [[compact]]'s rewrite over one date at minute grain. Old files
    * stay on disk for concurrent readers until [[vacuum]]. Never
    * touches other dates or the [[writeStaged]] landings (folding
    * those is the whole-table pass's job).
    *
    * `crashAfterStep` (tests only) aborts after the numbered step:
    * 1 = rewrite tree fully written but UNPUBLISHED (readers see the
    * old state; the orphan tree is vacuum's to reclaim), 2 = manifest
    * generation published (the mutation is fully visible).
    */
  def compactDate(date: String, filesPerPartition: Int = 1,
      zorderOn: Option[(Column, Column)] = None,
      blockSize: Option[Long] = None,
      crashAfterStep: Int = Int.MaxValue): Unit = mutation {
    fence()
    val part0 = s"date=$date"
    // the rolling heal only needs ITS date's entries (plus the
    // catch-all) — the patch commit never touches the rest of the
    // table, so the other partitions' manifests are never read:
    // per-date maintenance is O(date) metadata end to end
    val t = baseFor(Some(pk => pk.isEmpty || pk == part0))
    val eD = t.entries.filter(e => logicalRel(e.rel).startsWith(part0 + "/"))
    // minute grain: planCompactions only flags minute-grain dates
    rewrite(t, eD, ParquetStore.partColsFor("minute"), filesPerPartition,
      zorderOn, blockSize, crashAfterStep)(wrote =>
      s"""{"op":"compactDate","date":"$date","wrote":$wrote,""" +
        s""""retired":${eD.size}}""")
  }

  /** Compact the small files the minute-grained ingest leaves behind:
    * fold the whole truth, [[writeStaged]] landings included, into one
    * fresh `_gen-*` tree at the target granularity, committed by a
    * manifest patch that drops and tombstones every superseded file
    * (they stay on disk for concurrent readers until [[vacuum]]).
    * Readers are unaffected (same hive layout per tree, same
    * pruning); at scale this runs
    * periodically over stores whose main tree is compaction-owned.
    *
    * `crashAfterStep` (tests only) aborts after the numbered step:
    * 1 = rewrite tree fully written but UNPUBLISHED — readers still
    * see the pre-compaction state exactly, the orphan
    * tree is invisible (underscore-hidden, referenced by nothing) and
    * is vacuum's to reclaim; 2 = manifest generation published (the
    * commit is the last step, so this is a complete run).
    *
    * @param zorderOn optional pair of 16-bit-domain dimension columns
    *   (values clamped to [0, 65535]) to Morton-order rows by WITHIN
    *   each rewritten partition. Both dims must vary over COMPARABLE
    *   bit-ranges inside one storage partition — an absolute
    *   epoch-second x varies in only ~6 low bits inside a minute
    *   partition, so every duration bit would out-rank it and the
    *   layout degenerates to a duration sort with loose start stats
    *   (measured in StreamingWindowSpec's skip test); use
    *   ms-in-minute × capped duration-ms. The motivating pair for the
    *   span table is (start-in-partition, capped duration-ms): trace search
    *   filters on BOTH a start range and a duration range (SURVEY
    *   F9/F10, duo/src/query.rs:141-152), and a time-partitioned
    *   layout alone leaves the duration predicate scanning every
    *   row group in the admitted partitions. Z-ordering the rewrite
    *   makes per-row-group min/max stats tight in both dimensions at
    *   once, so parquet row-group pruning serves either predicate —
    *   the [[graft.operators.Pipelines.zorderKey]] layout applied to
    *   the engine's own storage (rectangle guarantee proven at p18).
    * @param blockSize optional parquet row-group target size in bytes
    *   for the rewrite — the granularity knob for min/max-stats
    *   pruning (smaller groups = tighter per-group boxes = more
    *   skippable metadata; production tunes this against footer
    *   overhead). Specs/probes set it low so a small fixture still
    *   splits into enough row groups to MEASURE skipping.
    * @param granularity target DIRECTORY granularity of the rewritten
    *   tree: "minute" (the reference's ingest layout), "hour", or
    *   "day". The minute layout is an INGEST-TIME choice, not a read
    *   contract — pruning is on column predicates, and [[TimePrefix]]
    *   already collapses fully-covered hours/days — so old data can be
    *   organized coarser: a wide event-time spread at minute grain is
    *   thousands of near-empty leaf dirs whose creation dominates the
    *   drain cost (w11's 7-year span fixture: 34-48 s measured).
    *   Reads are granularity-invariant: [[read]] prunes on `date` +
    *   the row time predicate at every level, and [[readPrefixes]]
    *   falls back to coarser dirs with an equivalent row filter.
    *   Granularity applies to the WHOLE rewrite (each tree's hive
    *   discovery requires uniform depth), so it fits stores whose main
    *   tree is compaction-owned (the [[writeStaged]]/LSM shape); a
    *   store also taking direct minute-grained [[write]]s should stay
    *   "minute".
    */
  def compact(filesPerPartition: Int = 1,
      crashAfterStep: Int = Int.MaxValue,
      zorderOn: Option[(Column, Column)] = None,
      blockSize: Option[Long] = None,
      granularity: String = "minute"): Unit = mutation {
    val partCols = ParquetStore.partColsFor(granularity)
    fence()
    if (!exists) return
    // SNAPSHOT: the truth is captured NOW; an append committing after
    // it is cleanly "late" — outside the rewrite, never dropped by its
    // patch, visible before and after the commit
    val t = baseFor(None)
    rewrite(t, t.entries, partCols, filesPerPartition, zorderOn,
      blockSize, crashAfterStep)(wrote =>
      s"""{"op":"compact","granularity":"$granularity",""" +
        s""""wrote":$wrote,"retired":${t.entries.size}}""")
  }

  /** The rewrite [[compact]] and [[compactDate]] share: `retired`'s
    * rows land in one fresh `_gen-*` tree at the `partCols` grain,
    * which `commitRetiring` then publishes in their place (nothing
    * when `retired` is empty; no commit when `crashAfterStep` ≤ 1).
    * Partition columns are re-derived from the row's own time (the
    * store invariant: dir values are pure functions of timeCol in the
    * session zone) — one derivation path whatever trees and grains
    * the input files carried. `filesPerPartition` is a hash-partition
    * count, so one dir's rows land wholly in one task at ANY value;
    * it is raised to the cluster's parallelism so the rewrite spreads
    * its dirs across cores instead of opening every parquet writer in
    * one serial task (measured on g13's maintenance heals: 2-3 s
    * single-task rewrite stages at the default 1). The partition
    * columns lead the z-order sort, so the writer's own required
    * ordering (it otherwise re-sorts each task by the dynamic
    * partition keys, unstably) is already satisfied and the z-order
    * survives into the files. `info` gets the written file count.
    */
  private def rewrite(base: ParquetStore.Base,
      retired: Seq[StoreManifest.Entry], partCols: Seq[String],
      filesPerPartition: Int, zorderOn: Option[(Column, Column)],
      blockSize: Option[Long], crashAfterStep: Int)(
      info: Int => String): Unit =
    relationFor(retired, base.schema).foreach { rows =>
      val parts = ParquetStore.withPartCols(rows, timeCol, partCols)
        .repartition(math.max(filesPerPartition,
          spark.sparkContext.defaultParallelism), partCols.map(col): _*)
      val gen = newGenName()
      val writer = bloomWriter(zorderOn.fold(parts) { case (x, y) =>
        parts.sortWithinPartitions(
          partCols.map(col) :+ graft.operators.Pipelines.zorderKey(x, y): _*)
      })
      blockSize.fold(writer)(b => writer
          .option("parquet.block.size", b.toString))
        .partitionBy(partCols: _*)
        .parquet(s"$dir/$gen")
      if (crashAfterStep > 1)
        commitRetiring(base, Some(gen), retired, base.schema,
          landed => Some(info(landed.size)))
    }

  /** The generation files currently standing vacuum's destructive
    * sweeps down, as (name, reason, reclaimable) — the operator
    * observability surface of the future-format gate (empty ⇔ sweeps
    * run). `reclaimable = true` marks provably-dead debris (a
    * zero-byte / header-torn artifact from a non-atomic copy) the
    * operator can acknowledge via [[vacuum]]'s `reclaimUnknown`;
    * false means a NEWER binary's commit (leave it; roll this binary
    * forward) or a transient read fault (retries next pass). The flag
    * here agrees with the ack path's full rule: an artifact the PARSE
    * layer can still fold (a tear that happens to leave a
    * self-consistent header-only body) reports non-reclaimable even
    * when its header scan says torn — deleting a foldable generation
    * through the ack is never allowed.
    */
  def vacuumStandDowns(): Seq[(String, String, Boolean)] =
    manifest.futureFormatGens().map(u => (u.name, u.reason,
      u.reclaimable && !generationReadable(u.name)))

  /** Reclaim what the manifest-commit protocol deferred: tombstoned
    * files whose mutation is at least `graceMs` old, `_gen-*` trees no
    * retained generation references (crashed rewrites, or fully-
    * superseded trees emptied by tombstone reclaim), and retained
    * manifest generations beyond the newest that are older than the
    * grace window. The grace window IS the snapshot-isolation
    * guarantee: a reader holds its planned `FileStatus`es safely for
    * up to `graceMs` after the mutation that superseded them.
    * Idempotent; crash at any point leaves strictly less to reclaim.
    * Returns (tombstonedFilesDeleted, orphanTreesDeleted, gensPruned).
    *
    * @param reclaimUnknown generation file names the OPERATOR
    *   acknowledges as dead debris (from [[vacuumStandDowns]]): they
    *   are deleted before the gate is evaluated, so a permanently-torn
    *   artifact cannot disable reclaim forever. Every named file must
    *   currently classify as PROVABLY-DEAD debris (zero-byte,
    *   header-torn, torn gzip, oversized header — shapes no whole-file
    *   rename publish produces). Acknowledging anything else throws:
    *   a readable generation or an unheld name means the
    *   acknowledgment was written against stale facts, and an
    *   unknown-form / future-protocol / transient-I/O classification
    *   may be a NEWER binary's live commit — the acknowledge path
    *   must not become the rollback hazard's own delete button.
    */
  def vacuum(graceMs: Long,
      reclaimUnknown: Seq[String] = Nil): (Int, Int, Int) = mutation {
    fence()
    if (reclaimUnknown.nonEmpty) {
      // the classification is RE-VERIFIED twice, on two independent
      // header reads inside this call (never memoized): an ack racing
      // one transient read fault must not delete a healthy file — a
      // reclaim proceeds only when both fresh passes prove the same
      // dead-debris shape
      def unknownNow() =
        manifest.futureFormatGens().map(u => u.name -> u).toMap
      val (u1, u2) = (unknownNow(), unknownNow())
      // classification-reclaimable on BOTH fresh reads AND not
      // parser-readable: the parse layer is more lenient than the
      // header scan in one corner (an `mlist=0` header-only body whose
      // last header line a copy clipped still folds), and a generation
      // ANY reader can fold must never be deletable through the ack
      // path — deleting a foldable newest head would silently roll
      // the table back
      def reclaimableTwice(n: String): Boolean =
        u1.get(n).exists(_.reclaimable) &&
          u2.get(n).exists(_.reclaimable) && !generationReadable(n)
      val bad = reclaimUnknown.filterNot(reclaimableTwice)
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"$dir: reclaimUnknown names not (repeatably) classified as " +
          s"provably-dead debris: ${bad.map(n => u2.get(n)
            .map(u => s"$n (${u.reason})").getOrElse(s"$n (not held)"))
            .mkString(", ")} — re-check vacuumStandDowns() and " +
          "acknowledge only reclaimable entries; a future binary's " +
          "commit is never acknowledgeable, and a persistently " +
          "I/O-unreadable artifact is out-of-band operator surgery " +
          "on the named file, never an API call")
      reclaimUnknown.foreach(manifest.deleteGen)
    }
    val now = System.currentTimeMillis()
    // 0. lease housekeeping: claims leave a bounded trickle of
    // superseded lease files (each claim prunes to the top few), but a
    // long-lived writer that never re-claims would still pay the
    // residue in every mutation's LIST — vacuum holds the max lease
    // right now (fence() above), so everything strictly below it is a
    // dead claimant's and can go.
    myLease.foreach { mine =>
      leaseNames().filter(_ < mine)
        .foreach(n => fs.delete(new Path(lockDir, n), false): Unit)
    }
    val head = manifest.newestDead()
    // 1. ripe tombstones → delete the files (idempotent: missing = ok).
    // Parallel beyond a small batch: on an object store each delete is
    // a ~tens-of-ms round trip, and a compaction-heavy table whose
    // grace just expired can owe 10⁵-10⁶ of them (the 100 TB tier) —
    // sequentially that is hours, pooled it is bounded by store
    // throughput (Delta's vacuum distributes deletes for the same
    // reason; driver-side threads suffice here because a delete is
    // all-latency-no-data and FileSystem clients are thread-safe).
    val ripe = head.map(_._2.filter(_.millis + graceMs <= now))
      .getOrElse(Nil)
    deleteBatch(ripe.map(d => new Path(s"$dir/${d.rel}")))
    // drop now-empty partition dirs the tombstones vacated (legacy
    // tree dirs; gen trees are handled whole below). Depth-bounded:
    // only parents of deleted files are probed.
    val tableP = new Path(dir)
    ripe.map(d => new Path(s"$dir/${d.rel}").getParent).distinct
      .foreach { p =>
        var cur = p
        // a dir holding only writer metadata (`_SUCCESS`) is as empty
        // as the tombstones left it — drop the marker with the dir
        def onlyMarkers(children: Seq[FileStatus]): Boolean =
          children.forall(s => s.isFile && s.getPath.getName == "_SUCCESS")
        while (cur != null && cur != tableP && fs.exists(cur) && {
            val cs = ls(cur); cs.isEmpty || onlyMarkers(cs) }) {
          rm(cur)
          cur = cur.getParent
        }
      }
    // DESTRUCTIVE-SWEEP GATE: if ANY retained generation is in a
    // format this binary cannot interpret (unknown body form or a
    // future `protocol` capability — NOT torn debris), a newer binary
    // owns this store's tail. Steps 3/3b/4 decide what to delete by
    // "what do the generations I can read reference" — running them
    // here would destroy the newer binary's manifests and data trees
    // (the rollback-then-vacuum hazard). Stand down on those steps
    // and on step 2's republish (its CAS against the future head
    // would only fail loudly); the ripe-tombstone reclaim above is
    // still safe — a tombstone in a readable generation stays dead
    // in every later one, rels are never reused.
    val futureGens = manifest.futureFormatGens()
    if (futureGens.nonEmpty)
      // the stand-down must be LOUD: silently skipping reclaim forever
      // reads as "vacuum runs but the store grows" to an operator
      org.slf4j.LoggerFactory.getLogger(classOf[ParquetStore]).warn(
        s"$dir: vacuum destructive sweeps STANDING DOWN — " +
          s"${futureGens.size} generation(s) this binary cannot " +
          "interpret: " + futureGens.map(u =>
            s"${u.name} (${u.reason})").mkString("; ") +
          " — a newer binary's commits must not be swept; if this is " +
          "provably-dead debris, acknowledge it via " +
          "vacuum(reclaimUnknown = ...)")
    // 2. republish with the reclaimed tombstones pruned (entries and
    // schema unchanged) so the dead list never grows unboundedly —
    // lease re-verified and CAS'd on the generation read at step 1,
    // like every commit. A generation an older build left without a
    // schema has none to record, so its list stays (re-deleting a
    // reclaimed file is a no-op)
    if (ripe.nonEmpty && futureGens.isEmpty) head.foreach { case (g, _) =>
      // patch-shaped: the reclaim's delta is exactly the ripe
      // tombstone list — no O(table) entry diff on a maintenance tick
      if (manifest.recordsSchema(g)) commitOver(Some(g)) {
        (parent, widen) =>
          manifest.publish(adds = Nil, drops = Nil,
            deadPlus = Nil, deadMinus = ripe.map(_.rel),
            schema = widen(manifest.readGen(g).get.schema), parent = parent,
            info = Some(s"""{"op":"vacuum","reclaimed":${ripe.size}}""")
          ): Unit
      }
    }
    if (futureGens.nonEmpty) return (ripe.size, 0, 0)
    // steps 3-4 decide what is unreferenced, so no append may commit
    // between that decision and the deletes
    commitLock.synchronized {
    // 3. prune retained generations past the grace window (newest kept
    // unconditionally — it IS the table) BEFORE the orphan scan, so a
    // tree referenced only by an out-of-grace generation is reclaimed
    // in this same pass. Chain-aware (round 18): a generation file a
    // WITHIN-grace head's delta chain folds through must survive even
    // when it is itself older than the grace — deleting a checkpoint
    // out from under a live delta head would make the head unreadable.
    val gens = manifest.genNames()
    val roots = gens.filter(g => gens.lastOption.contains(g) ||
      genFileMillis(g).forall(_ + graceMs > now))
    val needed = manifest.neededFor(roots)
    val pruned = gens.filterNot(needed)
    pruned.foreach(manifest.deleteGen)
    // 3b. partition-manifest files no surviving generation references
    // and older than the grace — crashed in-flight commits' debris
    // (commit-time retention prunes the referenced ones with their
    // generations)
    manifest.vacuumOrphanManifests(graceMs, now): Unit
    // 4. orphan gen trees: referenced (live OR tombstoned) by NO
    // retained generation and older than the grace window — crashed
    // rewrites, or trees whose last live file a prior vacuum
    // reclaimed. Every retained generation counts: an older gen is
    // exactly what a corrupt-latest reader falls back to.
    val referenced: Set[String] =
      manifest.referencedRels().map(treeRootOf).filter(_.nonEmpty).toSet
    val orphans = ls(new Path(dir)).filter { s =>
      s.isDirectory && s.getPath.getName.startsWith("_gen-") &&
        !referenced(s.getPath.getName) &&
        !landing.contains(s.getPath.getName) &&
        s.getModificationTime + graceMs <= now &&
        genNameMillis(s.getPath.getName).forall(_ + graceMs <= now)
    }
    orphans.foreach(s => rm(s.getPath))
    (ripe.size, orphans.size, pruned.size)
    }
  }

  /** Delete many files, pooled when the batch is large. 32 threads:
    * deletes are pure metadata round trips, so the win is latency
    * overlap, and more would only invite object-store rate limits.
    * Failures propagate (vacuum callers treat a failed delete as a
    * retryable pass — the tombstone stays until one succeeds).
    */
  private def deleteBatch(paths: Seq[Path]): Unit =
    if (paths.size <= 64)
      paths.foreach(p => fs.delete(p, false): Unit)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(32,
        (r: Runnable) => {
          val t = new Thread(r, "store-vacuum-delete")
          t.setDaemon(true)
          t
        })
      try {
        import scala.jdk.CollectionConverters._
        val tasks: Seq[java.util.concurrent.Callable[Unit]] =
          paths.map(p => (() => { fs.delete(p, false): Unit
            }): java.util.concurrent.Callable[Unit])
        pool.invokeAll(tasks.asJava).asScala.foreach { f =>
          // unwrap: callers must see the same IOException (naming the
          // failing path) whichever side of the pool threshold the
          // batch landed on
          try f.get(): Unit
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        }
      } finally pool.shutdown()
    }

  private def genNameMillis(name: String): Option[Long] =
    name.stripPrefix("_gen-").takeWhile(_.isDigit).toLongOption

  private def genFileMillis(name: String): Option[Long] =
    name.stripPrefix("gen-").takeWhile(_.isDigit).toLongOption

  /** The live [[writeStaged]] files: depth-0 entries, read from the
    * catch-all partition's manifests alone (no listing).
    */
  private def stagedEntries: Seq[StoreManifest.Entry] =
    truthFor(Some(_.isEmpty)).map(_.entries.filter(e => depthOf(e.rel) == 0))
      .getOrElse(Nil)

  /** Staged-but-uncompacted file count — the LSM depth signal the
    * compaction policy triggers on.
    */
  def stagedFileCount: Int = stagedEntries.size

  /** Oldest staged file's age in µs from its recorded mtime (None when
    * nothing is staged) — the policy's second trigger: a trickle
    * ingest never reaches the count threshold but must still drain
    * eventually.
    */
  def stagedOldestAgeUs(nowUs: Long = System.currentTimeMillis() * 1000L)
      : Option[Long] =
    stagedEntries.map(_.mtime).minOption.map(nowUs - _ * 1000L)

  /** Small-file compaction PLANNING from pure metadata (the OPTIMIZE /
    * rewrite-planning half of Delta/Iceberg maintenance at this
    * store's scale): the `date=` partitions [[compactDate]] can
    * actually IMPROVE — more files than leaf (minute) dirs, i.e. some
    * minute holds several flush files, AND over `maxFilesPerDate`
    * files or averaging under `minAvgBytes` — most-fragmented first.
    * The leaf-dir guard makes heal→plan CONVERGE: compactDate rewrites
    * to `filesPerPartition` files per minute dir, so a date already at
    * one-file-per-minute is never re-flagged (a date whose problem is
    * too MANY minute dirs needs `compact(granularity = "hour")`, a
    * different, whole-tree decision). Dates already compacted to hour/
    * day grain are skipped for the same reason — compactDate requires
    * the minute layout. Costs one manifest GET (a tree walk only for
    * an un-manifested legacy store) and ZERO data reads. Leaf dirs are
    * LOGICAL (gen-tree prefixes stripped), so a date whose files
    * straddle several flush and rewrite trees is counted — and healed
    * — as one date.
    */
  def planCompactions(maxFilesPerDate: Int = 8,
      minAvgBytes: Long = 4L * 1024 * 1024): Seq[String] = {
    if (!exists) return Seq.empty
    val entries = truth().map(_.entries).getOrElse(manifest.walkLegacy())
    entries.groupBy(e => logicalRel(e.rel).takeWhile(_ != '/'))
      .collect { case (datePart, files) if datePart.startsWith("date=") && {
          val rels = files.map(e => logicalRel(e.rel))
          val minuteGrain = rels.forall(_.count(_ == '/') == 3)
          val leafDirs = rels
            .map(r => r.take(r.lastIndexOf('/'))).distinct.size
          minuteGrain && files.size > leafDirs &&
            (files.size > maxFilesPerDate ||
              files.map(_.size).sum / files.size < minAvgBytes)
        } => (datePart.stripPrefix("date="), files.size)
      }
      .toSeq.sortBy { case (d, n) => (-n, d) }.map(_._1)
  }

  /** Compaction as a POLICY, not a tool (the LSM background cadence):
    * fold the [[writeStaged]] landings into the partitioned layout
    * when they are deep enough (`maxStagedFiles`) or old enough
    * (`maxAgeUs`) — the two triggers every LSM store's background
    * compactor runs on (depth amortizes write cost; age bounds how
    * long directory pruning is deferred for staged rows). Returns
    * whether a drain ran. Reads are identical before and after a
    * drain (staged files are table entries; the policy spec pins
    * equality), so cadence points — end of an ingest loop, a timer —
    * never change what a reader SEES. Mutations on one store are
    * serialized by the owning engine and fenced against other
    * writers; concurrent READERS are safe across a drain (snapshot
    * isolation — see the class doc).
    */
  def maybeCompact(maxStagedFiles: Int = 64,
      maxAgeUs: Option[Long] = None,
      nowUs: Long = System.currentTimeMillis() * 1000L,
      filesPerPartition: Int = 1,
      granularity: String = "minute"): Boolean = {
    val deep = stagedFileCount >= maxStagedFiles
    val stale = maxAgeUs.exists(lim =>
      stagedOldestAgeUs(nowUs).exists(_ >= lim))
    if (deep || stale) {
      compact(filesPerPartition, granularity = granularity); true
    } else false
  }

  /** Retention (beyond the reference, which grows forever — no expiry
    * anywhere in duo/src): drop data older than `cutoffUs`, at the
    * granularities a 100 TB store can afford to delete at:
    *
    *  - partitioned files drop by whole `date=` partitions strictly
    *    before the cutoff's session-zone date — the drop-old-days shape
    *    every observability retention job runs (pure metadata; the
    *    cutoff's own date is kept whole);
    *  - a [[writeStaged]] (depth-0) file drops when its parquet
    *    footer says max(timeCol) < the cutoff's day floor —
    *    file-granular, footer stats only, still no data read. A file
    *    STRADDLING the boundary is kept whole (conservative:
    *    retention may retain up to one extra day/file; exact trimming
    *    is what the next [[compact]] gives, since its rewrite
    *    re-derives dirs from surviving rows).
    *
    * The drop is a pure manifest operation: survivors republished,
    * dropped files tombstoned, bytes reclaimed by [[vacuum]] after the
    * grace window — so concurrent readers planned before the expiry
    * stay green. The recorded schema is kept: dropping a date can
    * retire the only files carrying a drifted column, which then reads
    * as all-null (the resurrect-as-null contract [[SchemaRegistry]]
    * keeps; its `gc` is the explicit trim). A never-committed store
    * (duo's native layout) commits its expiry as its first
    * generation, like any mutation.
    * Returns (datePartitionsDropped, stagedFilesDropped).
    */
  def expire(cutoffUs: Long): (Int, Int) = mutation {
    fence()
    if (!exists) return (0, 0)
    // the cutoff's calendar day in the SESSION timezone — the same
    // derivation the write path's date_format uses for the dir names;
    // a UTC LocalDate here would, on a west-of-UTC session, drop a
    // `date=` dir holding rows AFTER the cutoff instant
    val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone"))
    val cutoffDate = java.time.LocalDate.ofInstant(
      java.time.Instant.ofEpochSecond(Math.floorDiv(cutoffUs, 1000000L)),
      zone)
    val dayFloorUs = cutoffDate.atStartOfDay(zone)
      .toInstant.toEpochMilli * 1000L
    // retention only needs the EXPIRED dates' entries (the patch's
    // drops) — surviving partitions' manifests are never read, so a
    // retention tick is O(expired dates), not O(table)
    val t = baseFor(Some(pk => pk.isEmpty ||
      pk.stripPrefix("date=") < cutoffDate.toString))
    // ISO dates compare chronologically as strings
    def dateOf(rel: String): String = {
      val l = logicalRel(rel)
      l.take(math.max(l.indexOf('/'), 0)).stripPrefix("date=")
    }
    val droppedE = t.entries.filter(e =>
      dateOf(e.rel).nonEmpty && dateOf(e.rel) < cutoffDate.toString)
    // stats missing ⇒ unprovable ⇒ keep (loud is rowGroupRanges'
    // job; retention must only ever delete what it can prove dead)
    val stagedDead = t.entries.filter(e => depthOf(e.rel) == 0 &&
      fileMaxStat(new Path(s"$dir/${e.rel}")).exists(_ < dayFloorUs))
    val dropped = droppedE ++ stagedDead
    if (dropped.isEmpty) return (0, 0)
    commitRetiring(t, None, dropped, t.schema, _ =>
      Some(s"""{"op":"expire","cutoffDate":"$cutoffDate",""" +
        s""""retired":${dropped.size}}"""))
    (droppedE.map(e => logicalRel(e.rel).takeWhile(_ != '/'))
      .distinct.size, stagedDead.size)
  }

  /** max(timeCol) across one parquet file's row groups, from footer
    * statistics alone (None when any group lacks usable stats).
    */
  private def fileMaxStat(p: Path): Option[Long] = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      p, spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val maxes = r.getFooter.getBlocks.asScala.toSeq.map { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == timeCol)
          .map(_.getStatistics)
          .filter(st => st != null && !st.isEmpty && st.hasNonNullValue)
          .map(_.genericGetMax.asInstanceOf[Number].longValue())
      }
      if (maxes.isEmpty || maxes.exists(_.isEmpty)) None
      else Some(maxes.flatten.max)
    } finally r.close()
  }

  /** Trace-search span read for the F9∧F10 predicate pair (start range
    * AND duration range, duo/src/query.rs:141-152) with the derived
    * END-RANGE conjunct: `duration = end − start` is an arithmetic
    * expression parquet statistics can never serve, but
    * start ∈ [s₁,s₂] ∧ dur ∈ [d₁,d₂] IMPLIES end ∈ [s₁+d₁, s₂+d₂] —
    * a redundant conjunct on a STORED column, so results are
    * unchanged while the scan gains a pushable row-group predicate.
    * This is what turns the z-ordered compaction ([[compact]]
    * zorderOn start×duration) into a read-time win: z-clustering
    * (start, dur) clusters end = start+dur too, so per-row-group
    * min/max boxes on (start, end) are tight in exactly the
    * dimensions the derived conjuncts probe — row groups outside the
    * duration band prune on footer stats alone. A time-only layout
    * stores each row group with near-partition-wide end ranges and
    * skips nothing (skip ratios measured in StreamingWindowSpec,
    * recorded in SCALE.md).
    */
  def readSpanRange(startLo: Long, startHi: Long, durLo: Long,
      durHi: Long, endCol: String = "end"): Option[DataFrame] =
    read(Some(startLo), Some(startHi)).map(_.filter(
      (col(endCol) - col(timeCol)).between(durLo, durHi) &&
        col(endCol).between(startLo + durLo, startHi + durHi)))

  /** Per-row-group [min, max] footer statistics for `cols` over the
    * main truth — the metadata a stats-aware reader prunes on
    * ([[readSpanRange]]'s skip measurement reads this). With a live
    * manifest the file list comes straight from it (ZERO listings —
    * footer opens are reads of the files themselves); a never-
    * committed store walks. [[writeStaged]] (depth-0) files are
    * deliberately excluded: they are the un-organized tail whose
    * layout [[compact]] has not built yet, so their stats are not part
    * of any layout-pruning claim — measure skip ratios after the
    * drain, the state the claim is about.
    */
  def rowGroupRanges(
      cols: Seq[String]): Seq[(String, Map[String, (Long, Long)])] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val files: Seq[Path] =
      truth().map(_.entries).getOrElse(manifest.walkLegacy())
        .filter(e => depthOf(e.rel) > 0)
        .map(e => new Path(s"$dir/${e.rel}"))
    files.flatMap { fp =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        fp, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getBlocks.asScala.toSeq.map { b =>
        fp.toString -> cols.map { c =>
          val cc = b.getColumns.asScala
            .find(_.getPath.toDotString == c)
            .getOrElse(sys.error(s"rowGroupRanges: no column $c in $fp"))
          val st: org.apache.parquet.column.statistics.Statistics[_] =
            cc.getStatistics
          // an all-null group (or stats disabled) has no min/max — a
          // stats-aware reader must treat it as unprunable, loudly.
          // The typed Statistics store primitives, so genericGetMin is
          // non-null even when the group holds only nulls; the real
          // signals are isEmpty (no stats) and hasNonNullValue
          if (st == null || st.isEmpty || !st.hasNonNullValue)
            sys.error(s"rowGroupRanges: no min/max stats for $c in $fp")
          c -> (st.genericGetMin.asInstanceOf[Number].longValue(),
            st.genericGetMax.asInstanceOf[Number].longValue())
        }.toMap
      } finally r.close()
    }
  }

  /** Reference-shaped read path: enumerate minimal partition prefixes
    * with [[TimePrefix]] and read only those directories (the
    * ListingTable-over-prefixes plan, duo/src/partition/query.rs:38-60).
    * [[writeStaged]] (depth-0) files have no directory to prune by, so
    * every one is read, filtered to EXACTLY the minute window the
    * prefix set covers ([floorMin(start), truncMin(end) +
    * bump-if-seconds), mirroring [[TimePrefix]]'s end-bump quirk) —
    * prefix reads are directory-granular by contract (callers apply
    * row predicates after, like the reference's ListingTable), so the
    * staged files must be minute-granular too or the result would
    * depend on which layout a row landed in.
    *
    * Listing discipline for object stores: with a manifest, the whole
    * plan (prefix existence, coarse fallback, file expansion) derives
    * from the one GET. Without one, prefix existence is probed with
    * ONE listing per distinct PARENT directory (not one HEAD per
    * prefix — a day window is 1,440 minute prefixes but only ~24
    * parents), and the coarse-fallback ancestor listings are memoized
    * per ancestor within the call, so a wide window over a day-grain
    * tree lists each date dir once. Cost is bounded by DIRECTORIES
    * TOUCHED, never by window width.
    *
    * Schema: `schema` when given, which every path honors
    * identically; otherwise the generation's recorded schema, with no
    * footer read. Only listing mode (no generation yet) merges the
    * selected files' footers.
    */
  def readPrefixes(startUs: Long, endUs: Long,
      schema: Option[StructType] = None): Option[DataFrame] = {
    val wantedRel = TimePrefix.generatePrefixes(startUs, endUs)
      .map(_.stripSuffix("/"))
    val t = truthFor(dateAdmitOf(Some(startUs), Some(endUs)))
    val entryByLogical: Map[String, Seq[StoreManifest.Entry]] =
      t.map(_.entries.groupBy(e => logicalRel(e.rel)))
        .getOrElse(Map.empty)
    // LOGICAL parent → child names, derived once from the truth
    // entries (manifest mode: zero listings) or from memoized
    // per-parent listings (legacy mode)
    val byParent: Option[Map[String, Set[String]]] = t.map { tr =>
      val m = scala.collection.mutable.Map.empty[String, Set[String]]
      tr.entries.foreach { e =>
        var parent = ""
        logicalRel(e.rel).split("/").foreach { seg =>
          m.update(parent, m.getOrElse(parent, Set.empty) + seg)
          parent = if (parent.isEmpty) seg else s"$parent/$seg"
        }
      }
      m.toMap
    }
    val childNames = scala.collection.mutable.Map.empty[String, Set[String]]
    def children(parentRel: String): Set[String] = byParent match {
      case Some(m) => m.getOrElse(parentRel, Set.empty)
      case None => childNames.getOrElseUpdate(parentRel,
        ls(new Path(if (parentRel.isEmpty) dir else s"$dir/$parentRel"))
          .map(_.getPath.getName).toSet)
    }
    def prefixExists(rel: String): Boolean = {
      val slash = rel.lastIndexOf('/')
      val parent = if (slash < 0) "" else rel.substring(0, slash)
      children(parent).contains(rel.substring(slash + 1))
    }
    val (present, missing) = wantedRel.partition(prefixExists)
    val minUs = 60L * 1000000L
    val loUs = Math.floorDiv(startUs, minUs) * minUs
    val endSec = Math.floorDiv(endUs, 1000000L)
    val bump = Math.floorMod(endSec, 60L) > 0L
    val hiUs = (Math.floorDiv(endSec, 60L) + (if (bump) 1L else 0L)) * minUs
    // COARSE-granularity fallback: a tree [[compact]]ed to hour/day
    // grain holds a missing minute-prefix's rows as DIRECT files of an
    // ancestor dir. Those files cover a superset of the prefix's
    // window, so they are read with an explicit covered-minute row
    // filter [loUs, hiUs) — the same window the minute DIRECTORIES
    // cover (contiguous by construction), which keeps the two layouts
    // observationally identical under the directory-granular contract.
    // Direct files only (never a recursive dir read): in a
    // minute-grain tree the ancestor has only subdirs and the fallback
    // contributes nothing, so the minute layout's plan is untouched.
    val dirFiles = scala.collection.mutable.Map.empty[String, Seq[String]]
    def parquetChildFiles(parentRel: String): Seq[String] = byParent match {
      // truth children are file AND subdir names; the .parquet filter
      // keeps exactly the direct files, like the listing path
      case Some(m) =>
        m.getOrElse(parentRel, Set.empty).toSeq
          .filter(_.endsWith(".parquet")).sorted
          .map(n => if (parentRel.isEmpty) n else s"$parentRel/$n")
      case None => dirFiles.getOrElseUpdate(parentRel,
        ls(new Path(if (parentRel.isEmpty) dir else s"$dir/$parentRel"))
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(s => if (parentRel.isEmpty) s.getPath.getName
            else s"$parentRel/${s.getPath.getName}"))
    }
    val fallbackRels = missing.flatMap { p =>
      val segs = p.split("/")
      // coarser ancestors, nearest first (minute → hour, date; hour →
      // date) — never above the date level; the FIRST existing one is
      // the coarse dir that holds this window's rows, if any
      (1 until segs.length)
        .map(k => segs.dropRight(k).mkString("/"))
        .find(prefixExists)
        .toSeq
        .flatMap(parquetChildFiles)
    }.distinct
    t match {
      case Some(tr) =>
        // prefix → file expansion by binary search over the sorted
        // LOGICAL rel list: O(P log N + hits), not O(P·N) — a day
        // window over a million-file manifest is 1,440 probes, not
        // 1.4B startsWith
        val sortedRels = entryByLogical.keys.toIndexedSeq.sorted
        def relsUnder(prefix: String): Seq[String] = {
          val q = prefix + "/"
          var lo = 0; var hi = sortedRels.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (sortedRels(mid) < q) lo = mid + 1 else hi = mid
          }
          Iterator.range(lo, sortedRels.length).map(sortedRels)
            .takeWhile(_.startsWith(q)).toSeq
        }
        val expanded = present.flatMap(relsUnder) ++ fallbackRels
        val selected = expanded.distinct
          .flatMap(entryByLogical.getOrElse(_, Nil)) ++
          tr.entries.filter(e => depthOf(e.rel) == 0)
        relationFor(selected, schema.getOrElse(tr.schema), (depth, df) =>
          if (depth > 0 && fallbackRels.isEmpty) df
          else df.where(col(timeCol) >= loUs && col(timeCol) < hiUs))
      case None =>
        val mainInputs = (present ++ fallbackRels).map(r => s"$dir/$r")
        if (mainInputs.isEmpty) None else {
          val reader = spark.read.option("mergeSchema", "true")
            .option("basePath", dir)
          val withSchema = schema.map(reader.schema).getOrElse(reader)
          val df = ParquetStore.logical(withSchema.parquet(mainInputs: _*))
          Some(if (fallbackRels.isEmpty) df
            else df.where(col(timeCol) >= loUs && col(timeCol) < hiUs))
        }
    }
  }
}

object ParquetStore {
  /** Per-table-dir mutation epochs (see the instance field). */
  private val epochs = new scala.collection.concurrent.TrieMap[
    String, java.util.concurrent.atomic.AtomicLong]

  /** AS-OF resolution over the eligible (committed ≤ T) generations,
    * newest readable wins. Same-millisecond commits (ADVICE r20): the
    * gen file name's UUID suffix is creation entropy, not a lineage
    * order, so among candidates sharing the max millis the one whose
    * fold SUPERSEDES the others — the one no other tied candidate
    * names as parent — resolves T; parent reads happen only on a tie.
    * An ambiguous tie (several non-parents) keeps the stable name
    * order, and an unreadable winner falls back exactly as before.
    */
  private[graft] def resolveAsOf(eligible: Seq[String],
      millisOf: String => Option[Long],
      parentOf: String => Option[String],
      readable: String => Boolean): Option[String] = {
    val byMs = eligible.flatMap(g => millisOf(g).map(_ -> g))
    if (byMs.isEmpty) return None
    val maxMs = byMs.map(_._1).max
    val (tied, earlier) = byMs.partition(_._1 == maxMs)
    val tiedReadable = tied.map(_._2).filter(readable)
    val winner =
      if (tiedReadable.size > 1) {
        val parents = tiedReadable.flatMap(parentOf).toSet
        tiedReadable.filterNot(parents) match {
          case Seq(only) => Some(only)
          case _ => tiedReadable.lastOption
        }
      } else tiedReadable.lastOption
    winner.orElse(
      earlier.map(_._2).reverseIterator.find(readable))
  }

  /** A mutation was attempted by a store instance whose writer lease
    * has been superseded: a second writer claimed the store root. The
    * single-writer contract is enforced, not narrated — the loser
    * fails loudly; readers are unaffected.
    */
  final class WriterFencedException(msg: String)
    extends IllegalStateException(msg)

  /** Expected distinct trace_ids per written FILE for the trace_id
    * bloom filter. Parquet sizes the bloom bitset from this hint and
    * DEFAULTS to 1,000,000 — measured on the engine's own stores: a
    * 26-row minute-flush file carried 1,042 bytes of column data and
    * ~1.05 MB of bloom bitset, i.e. the filter was 1000× the data
    * for every small flush file (and pure overhead to read). 2^16
    * keeps lookup pruning effective for flush-sized files at ~1/13 the
    * bitset; a deployment whose compacted files hold ≥1M distinct
    * traces raises the store's `bloomNdv` to match its file sizing —
    * the knob exists precisely because the right value is a property
    * of the flush/compaction size policy, not a universal constant.
    */
  val DefaultBloomNdv: Long = 1L << 16

  /** The schema an append records atop its parent's: the parent's
    * columns in order, then the batch's new ones (both all-nullable).
    * Throws [[SchemaConflictException]] when the batch re-types a
    * column or names one in a different case — the conflicts Arrow's
    * `Schema::try_merge` rejects (duo/src/schema.rs:78-89), and a
    * footer merge would not resolve the same way.
    */
  private[store] def appendSchema(parent: StructType,
      batch: StructType): StructType = {
    val byName = parent.fields.map(f => f.name.toLowerCase -> f).toMap
    batch.fields.foreach(f => byName.get(f.name.toLowerCase)
      .filter(p => p.name != f.name || p.dataType != f.dataType)
      .foreach(p => throw new SchemaConflictException(
        s"column ${f.name} ${f.dataType.simpleString} conflicts with " +
          s"the recorded ${p.name} ${p.dataType.simpleString}")))
    StructType(parent.fields ++
      batch.fields.filterNot(f => byName.contains(f.name.toLowerCase)))
  }

  /** A commit whose rows re-type or re-case a recorded column: the
    * table's schema cannot record both, so the commit is refused
    * before its publish.
    */
  final class SchemaConflictException(msg: String)
    extends IllegalArgumentException(msg)

  /** A mutation's planning state (`baseFor`); `parent` None for a
    * never-committed store, whose `entries` are its legacy walk.
    */
  private final case class Base(parent: Option[String],
      entries: Seq[StoreManifest.Entry], schema: StructType) {
    /** What a commit over this base carries besides its landed files:
      * nothing over a generation (the patch keeps the rest), and for a
      * never-committed store the legacy walk minus `retired` — its
      * first commit folds duo's native layout in.
      */
    def carried(retired: Seq[StoreManifest.Entry])
        : Seq[StoreManifest.Entry] =
      if (parent.isDefined) Nil
      else {
        val gone = retired.map(_.rel).toSet
        entries.filterNot(e => gone(e.rel))
      }
  }

  /** `df` without the partition columns: the logical table. */
  private def logical(df: DataFrame): DataFrame =
    df.drop("date", "hour", "minute")

  /** `rows` plus the partition columns `partCols` (a subset of
    * date/hour/minute), derived from the row's µs `timeCol` in the
    * session zone — the one definition of the hive layout that every
    * landing and rewrite, and [[graft.ScaleProbe]]'s native-layout
    * fixture, writes through. Dir values are pure functions of the
    * time column, which is what lets reads prune on them.
    */
  private[graft] def withPartCols(rows: DataFrame, timeCol: String,
      partCols: Seq[String] = partColsFor("minute")): DataFrame = {
    val ts = timestamp_micros(col(timeCol))
    val formats = Map("date" -> "yyyy-MM-dd", "hour" -> "HH",
      "minute" -> "mm")
    partCols.foldLeft(rows)((df, c) =>
      df.withColumn(c, date_format(ts, formats(c))))
  }

  /** Partition columns for a compaction target granularity. */
  private[store] def partColsFor(granularity: String): Seq[String] =
    granularity match {
      case "minute" => Seq("date", "hour", "minute")
      case "hour" => Seq("date", "hour")
      case "day" => Seq("date")
      case g => throw new IllegalArgumentException(
        s"granularity must be minute|hour|day, got '$g'")
    }
}
