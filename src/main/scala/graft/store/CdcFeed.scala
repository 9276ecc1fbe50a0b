package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** A durable incremental CDC consumer over one store's generation
  * history — the operational layer on the raw diff surfaces
  * ([[ParquetStore.changesBetween]]/`removedBetween`): a named cursor
  * persisted next to the table, `poll()` returning the unconsumed
  * increment, `commit()` advancing the cursor through the same
  * temp-write + rename atom every manifest commit uses. The reference
  * has no change feed at all (duo consumers re-query); this is the
  * Delta `startingVersion` streaming idea at this store's scale,
  * without internal streaming APIs.
  *
  * Delivery contract: AT-LEAST-ONCE. A crash between `poll()` and
  * `commit()` re-delivers the same increment on restart (the cursor
  * is the consumer's only state); exactly-once is the consumer's to
  * build by committing the cursor transactionally with its sink —
  * the same contract as a Kafka consumer group's offsets.
  *
  * Increment sides are Options because "no rows on this side" and
  * "diff not computable" are different facts: a pure-housekeeping
  * commit (vacuum's tombstone reclaim) or a delete-only commit
  * (expire) still delivers, with the empty side None — the consumer
  * advances its cursor through data-less generations instead of
  * misreading them as a gap. Computability is verified against the
  * retained generation set BEFORE and AFTER the diffs are built, so a
  * vacuum pruning the cursor's generation mid-poll can never yield a
  * half-increment (adds without their deletes): the post-check
  * downgrades it to a resync.
  *
  * Retention interaction: an increment is computable only while the
  * cursor's generation is retained (manifest heads + vacuum grace —
  * the window that also bounds time travel). A consumer that falls
  * behind it gets a RESYNC: the full table as of the newest
  * generation, `resync = true`, so a downstream that honors the flag
  * (truncate-and-reload) never silently misses the pruned middle.
  * The first-ever poll is the same shape: snapshot, then increments.
  *
  * Multiple independent consumers coexist (one cursor file each under
  * `_cdc/`); the underscore prefix hides the directory from Spark's
  * partition discovery like `_manifest` and the `_gen-*` trees.
  */
final class CdcFeed private[store] (store: ParquetStore,
    fs: org.apache.hadoop.fs.FileSystem, tableDir: String,
    consumer: String, keyCols: Seq[String]) {

  require(consumer.nonEmpty && consumer.forall(c =>
    c.isLetterOrDigit || c == '-' || c == '_'),
    s"consumer name must be [A-Za-z0-9_-]+: '$consumer'")

  private def cdcDir = new Path(tableDir, "_cdc")

  // cursor commits rename to a NEW unique name (like manifest
  // generations) and prune older ones afterwards — there is never a
  // delete-then-recreate window on a single path, so a crash at any
  // point leaves the previous cursor standing and a concurrent reader
  // always finds A maximum. <consumer>.cursor-<millis>-<uuid>
  private def cursorFiles(): Seq[String] =
    StoreFs.list(fs, cdcDir).map(_.getPath.getName)
      .filter(_.startsWith(s"$consumer.cursor-"))

  /** The committed cursor: the newest generation this consumer has
    * fully processed. None before the first [[commit]].
    */
  def cursor(): Option[String] = cursor(retriesLeft = 1)

  private def cursor(retriesLeft: Int): Option[String] =
    cursorFiles().maxOption.flatMap { name =>
      // a concurrent commit may prune `name` between the listing and
      // the read — re-list once; the newer cursor it renamed in is
      // there (prune runs strictly after the rename)
      try StoreFs.readString(
          new Path(cdcDir, name).toString)
        .map(_.trim).filter(_.startsWith("gen-"))
      catch {
        case _: java.io.IOException if retriesLeft > 0 =>
          cursor(retriesLeft - 1)
      }
    }

  /** The unconsumed increment, or None when the consumer is caught up,
    * the table has no generation yet, or a concurrent vacuum pruned
    * the polled target mid-poll (transient — the next poll recomputes
    * against the new newest). `added` rows are inserts
    * since the cursor (row-exact when the feed was built with
    * `keyCols`, file-granular otherwise — same caveats as the diff
    * surfaces) and `removed` the delete side; either is None when
    * that side has no rows. Call [[commit]] with the increment's
    * `toGen` once the rows are safely down; polling again before
    * that re-delivers.
    *
    * `maxGenerations` bounds the step: a consumer that fell several
    * commits behind gets an increment spanning at most that many
    * generations (default unbounded — one jump to newest, the
    * smallest total work but an unbounded batch a lagging consumer
    * cannot size or attribute). With `maxGenerations = 1` the feed
    * replays the commit history one generation at a time, each
    * increment carrying that generation's own `info` audit line —
    * bounded batches, attributable to the operation that produced
    * them. On an add-only stretch of history the union of the
    * stepped `added` sides equals the single jump's (spec-pinned);
    * when a key is added AND removed between the cursor and newest,
    * stepping surfaces both events while the jump nets them out —
    * MORE information, but an append-only consumer that ignores
    * `removed` will keep the netted-out rows it would never have
    * seen on the jump. Resyncs ignore the bound (a snapshot is not
    * a step through history), and a torn intermediate generation
    * widens the step to newest rather than resyncing.
    */
  def poll(maxGenerations: Int = Int.MaxValue): Option[CdcFeed.Increment] = {
    require(maxGenerations >= 1,
      s"maxGenerations must be >= 1, got $maxGenerations")
    val gens = store.generations()
    val newest = gens.lastOption.getOrElse(return None)
    cursor() match {
      case Some(c) if c == newest => None // caught up
      case Some(c) if store.generationReadable(c) &&
          store.generationReadable(newest) =>
        // the stepped target: at most maxGenerations past the cursor
        // (gens is oldest → newest; a cursor no longer listed falls
        // to the resync arm below via the readability check). A TORN
        // intermediate target widens the step to newest (readable by
        // the case guard) rather than mis-reading the situation as
        // retention loss — the cursor is intact, so a plain (just
        // unbounded) increment is computable and a resync would make
        // [[consumeInto]] hard-fail for nothing.
        val idx = gens.indexOf(c)
        val stepped =
          if (idx < 0) newest
          else gens(math.min(gens.size - 1L,
            idx.toLong + maxGenerations).toInt)
        val target =
          if (stepped == newest || store.generationReadable(stepped))
            stepped
          else newest
        val added = store.changesBetween(c, target, keyCols)
        val removed = store.removedBetween(c, target, keyCols)
        // post-check BOTH ends: if retention pruned a generation
        // while the diffs were being planned, one side may have
        // quietly come back None-for-the-wrong-reason — a half
        // increment (adds without their deletes) must never commit
        // as truth. The downgrade is PROPORTIONATE: a lost CURSOR is
        // real retention loss → resync; a vanished target with the
        // cursor intact is a transient race against vacuum → None,
        // and the next poll recomputes against the new newest (a
        // resync here would make [[consumeInto]] hard-fail a
        // recoverable situation).
        if (store.generationReadable(c) && store.generationReadable(target))
          Some(CdcFeed.Increment(target, added, removed, resync = false,
            info = store.generationInfo(target)))
        else if (!store.generationReadable(c))
          store.generations().lastOption.flatMap(resyncTo)
        else None // target pruned mid-poll, cursor intact: retry
      case Some(_) => resyncTo(newest) // cursor outran by retention
      case None => resyncTo(newest) // first poll: snapshot, like
                                    // Delta's startingVersion=latest-full
    }
  }

  /** Full-snapshot delivery: `added` is the whole table as of
    * `newest` (None when that table is EMPTY — an empty resync still
    * delivers, so a consumer that fell behind a delete-everything
    * expiry learns to truncate).
    */
  private def resyncTo(newest: String): Option[CdcFeed.Increment] =
    if (!store.generationReadable(newest)) None // corrupt head: retry later
    else Some(CdcFeed.Increment(newest, store.readGeneration(newest),
      None, resync = true, info = store.generationInfo(newest)))

  /** Durably advance the cursor to `gen` (an increment's `toGen`):
    * temp-write + rename to a fresh unique cursor file, then best-
    * effort prune of the older ones — the same publish discipline as
    * a manifest generation, so a crash at ANY point leaves a readable
    * cursor (the previous one, or both with the new one winning the
    * max), never none and never a torn body.
    */
  def commit(gen: String): Unit = {
    require(gen.startsWith("gen-"), s"not a generation name: '$gen'")
    fs.mkdirs(cdcDir): Unit
    val uuid = java.util.UUID.randomUUID().toString
    val tmp = new Path(cdcDir, s".tmp-$uuid")
    val out = fs.create(tmp, true)
    try out.write(gen.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val cur = new Path(cdcDir,
      f"$consumer.cursor-${System.currentTimeMillis()}%019d-$uuid")
    if (!fs.rename(tmp, cur)) {
      fs.delete(tmp, false): Unit
      throw new java.io.IOException(s"cursor commit failed: $cur")
    }
    cursorFiles().filter(_ < cur.getName).foreach(n =>
      fs.delete(new Path(cdcDir, n), false): Unit)
  }

  /** Deregister this consumer: delete its cursor files, so the next
    * [[poll]] starts over with a first-poll resync. Decommissioned
    * consumers (and throwaway ones — probes, gates) call this instead
    * of leaving a dead cursor under `_cdc` forever.
    */
  def reset(): Unit =
    cursorFiles().foreach(n =>
      fs.delete(new Path(cdcDir, n), false): Unit)

  /** EXACTLY-ONCE delivery of the feed's `added` rows into another
    * [[ParquetStore]] — the transactional consumer the at-least-once
    * [[poll]]/[[commit]] contract otherwise pushes onto every
    * downstream: one increment's rows land in the sink THROUGH its
    * manifest commit ([[ParquetStore.write]]), whose
    * generation info durably records `{"op":"cdcConsume","consumer":…,
    * "toGen":…}` in the SAME rename that makes the rows visible; the
    * cursor advances after. A crash at any step replays safely:
    * before the sink publish, nothing landed (the orphan `_gen-*`
    * tree is sink-vacuum's) and the re-run re-polls the same
    * increment; between publish and cursor-advance, the heal step at
    * the start of every run reads the landed `toGen` back from the
    * sink's generation info and advances the cursor WITHOUT
    * re-landing. Returns the consumed `toGen`, None when caught up.
    *
    * Contract edges: `transform` must leave the sink's time column in
    * place (it drives the landing's partition derivation); in the
    * default APPEND mode the `removed` side is NOT applied (an
    * append-only sink — consumers that must invalidate build on the
    * raw diffs), so with `maxGenerations` stepping the sink may
    * retain rows a mid-history removal would have netted out of the
    * unbounded jump — pick the jump, or MIRROR mode, when the sink
    * must track net state; an append-mode RESYNC is only accepted on
    * a first-ever consumption (bootstrap snapshot) — a mid-life
    * resync means retention outran this consumer and an append would
    * silently double the sink, so it throws instead.
    *
    * MIRROR mode (`mirror = true`, requires the feed's `keyCols` —
    * the row identity removals are applied by): each increment's
    * `removed` side is applied TRANSACTIONALLY in the same sink
    * commit as its `added` side ([[ParquetStore.applyMirror]] — a
    * partition-scoped keyed anti-join rewrite, O(touched dates)), so
    * the sink equals the source's net state as of every consumed
    * `toGen`, under any `maxGenerations` stepping and across
    * compaction/expiry lineages. A mid-life resync is ACCEPTED here:
    * a mirror's correct response to retention outrunning the cursor
    * is truncate-and-reload, which
    * [[ParquetStore.replaceCommitted]] performs in one commit. The
    * exactly-once handshake is identical — the rewrite's generation
    * info records the consumed increment, and the heal step reads it
    * back. `transform` must additionally preserve `keyCols` (it maps
    * both sides, so removal identity must survive it).
    */
  def consumeInto(sink: ParquetStore,
      transform: DataFrame => DataFrame = identity,
      maxGenerations: Int = Int.MaxValue,
      mirror: Boolean = false): Option[String] = {
    require(!mirror || keyCols.nonEmpty,
      "mirror mode needs the feed's keyCols (the row identity " +
        "removals are applied by) — build the feed with keyCols")
    landedToGen(sink).foreach { g =>
      if (cursor().forall(_ < g)) commit(g) // heal: landed, un-advanced
    }
    poll(maxGenerations) match {
      case None => None
      case Some(inc) =>
        if (inc.resync && !mirror && cursor().isDefined)
          throw new IllegalStateException(
            s"$tableDir: consumer '$consumer' needs a resync (cursor " +
              "outran by retention) but the sink already holds " +
              "earlier increments — reload the sink manually, " +
              "reset() the consumer, and re-bootstrap (or consume " +
              "with mirror = true, which reloads transactionally)")
        if (mirror) {
          if (inc.resync)
            sink.replaceCommitted(inc.added.map(transform),
              Some(consumeInfoOf(inc.toGen, mirror = true)))
          else if (inc.added.isDefined || inc.removed.isDefined)
            sink.applyMirror(inc.added.map(transform),
              inc.removed.map(transform), keyCols,
              Some(consumeInfoOf(inc.toGen, mirror = true)))
          // both sides None (housekeeping commit): nothing to land,
          // the cursor advance below is the whole consumption
        } else inc.added.foreach(df => sink.write(transform(df),
          Some(consumeInfoOf(inc.toGen))))
        commit(inc.toGen)
        Some(inc.toGen)
    }
  }

  private def consumeInfoOf(toGen: String,
      mirror: Boolean = false): String =
    s"""{"op":"cdcConsume","consumer":"$consumer","toGen":"$toGen"""" +
      (if (mirror) ""","mode":"mirror"}""" else "}")

  /** The newest increment this consumer has LANDED in `sink`, read
    * back from the sink's own generation audit lines — the durable
    * half of the exactly-once handshake. String-prefix parsing is
    * sound here because `consumeInfoOf` wrote the exact bytes
    * (consumer names are `[A-Za-z0-9_-]+` by construction).
    */
  private def landedToGen(sink: ParquetStore): Option[String] = {
    val prefix =
      s"""{"op":"cdcConsume","consumer":"$consumer","toGen":""""
    sink.generationInfos().values.flatten
      .filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix).takeWhile(_ != '"'))
      .maxOption
  }
}

object CdcFeed {
  /** One unconsumed increment: consume `added` (inserts) and
    * `removed` (invalidations) — None on a side means no rows there,
    * e.g. a housekeeping commit delivers with both None and the
    * consumer just advances — then [[CdcFeed.commit]] `toGen`. When
    * `resync` is true the poll could not compute a diff (first poll,
    * or the cursor's generation was pruned by retention): `added` is
    * the FULL table as of `toGen` (None = that table is empty) and
    * the consumer must truncate-and-reload rather than append.
    * `info` is `toGen`'s own operation-audit JSON (the commit this
    * increment steps TO — exact attribution under
    * `poll(maxGenerations = 1)`, the last spanned commit otherwise);
    * None for pre-audit generations.
    */
  final case class Increment(toGen: String, added: Option[DataFrame],
      removed: Option[DataFrame], resync: Boolean,
      info: Option[String] = None)
}
