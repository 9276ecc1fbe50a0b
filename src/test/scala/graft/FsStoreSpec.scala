package graft

import org.apache.spark.sql.functions._

import graft.store.ParquetStore

/** A real Hadoop FileSystem under a NON-`file:` scheme: the S5
  * portability probe. Every path the store touches is a
  * `rawtest://…` URI — a string `java.io.File` cannot interpret (it
  * would treat `rawtest:/…` as a relative name and fail existence
  * checks) — so any store code path that bypasses the
  * [[graft.store.StoreFs]] FileSystem plumbing breaks this suite
  * immediately. RawLocalFileSystem is the same class the S3A/ABFS
  * connectors sit beside: resolving it from the URI scheme is exactly
  * the reference's object-store switch (duo/src/config.rs:69-132).
  */
class RawTestFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "rawtest"
  override def getUri: java.net.URI = java.net.URI.create("rawtest:///")
}

/** A FileSystem whose directory rename can TEAR — move part of the
  * tree, then report failure — which is exactly what an interrupted
  * object-store "rename" (per-object copy+delete; S3A documents
  * directory rename as non-atomic) leaves behind. Armed per test via
  * [[TornRenameFileSystem.tearDstPrefix]]: the next directory rename
  * whose DESTINATION name matches moves half the children and returns
  * false. The store's promote phases must converge anyway.
  */
class TornRenameFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.Path
  override def getScheme: String = "torn"
  override def getUri: java.net.URI = java.net.URI.create("torn:///")
  override def rename(src: Path, dst: Path): Boolean = {
    val pfx = TornRenameFileSystem.tearDstPrefix
    if (pfx.exists(dst.getName.startsWith) && exists(src) &&
        getFileStatus(src).isDirectory && !exists(dst)) {
      TornRenameFileSystem.tearDstPrefix = None // one tear per arming
      TornRenameFileSystem.torn.incrementAndGet(): Unit
      val kids = listStatus(src)
      mkdirs(dst): Unit
      kids.take(kids.length / 2 + kids.length % 2).foreach(k =>
        super.rename(k.getPath, new Path(dst, k.getPath.getName)): Unit)
      false
    } else super.rename(src, dst)
  }
}
object TornRenameFileSystem {
  @volatile var tearDstPrefix: Option[String] = None
  val torn = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Counts every `listStatus` through the `lcount://` scheme — the
  * call an object store rate-limits — so the manifest's zero-listing
  * read planning is pinned as a measured property, not a code claim.
  */
class CountingListFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "lcount"
  override def getUri: java.net.URI = java.net.URI.create("lcount:///")
  override def listStatus(f: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] = {
    CountingListFileSystem.lists.incrementAndGet(): Unit
    CountingListFileSystem.paths.add(f.toString): Unit
    super.listStatus(f)
  }
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    CountingListFileSystem.opens.incrementAndGet(): Unit
    super.open(f, bufferSize)
  }
}
object CountingListFileSystem {
  val lists = new java.util.concurrent.atomic.AtomicInteger(0)
  val opens = new java.util.concurrent.atomic.AtomicInteger(0)
  val paths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def reset(): Unit = { lists.set(0); opens.set(0); paths.clear() }
}

class FsStoreSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._
  import spark.implicits._

  /** The schema raw-manifest fixtures record: every generation records
    * one, and these fixtures' entries are never read as data.
    */
  private val fx = new org.apache.spark.sql.types.StructType()
    .add("id", "long")

  private def newRoot(): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.rawtest.impl", classOf[RawTestFileSystem].getName)
    "rawtest://" +
      java.nio.file.Files.createTempDirectory("fsstore").toString
  }

  private val t0 = 1760000000000000L // µs epoch

  /** `run`'s result and the Spark jobs it started on this thread —
    * plan-time footer inference included — counted with a listener.
    */
  private def withJobCount[A](run: => A): (A, Int) = {
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    graft.util.StreamGate.quiesce(spark)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val a = try run finally sc.clearJobGroup()
      graft.util.StreamGate.quiesce(spark)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("store lifecycle end-to-end on a non-file FileSystem scheme: " +
      "land → read → drain → prefix read → recover") {
    val root = newRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    def batch(ids: Seq[Long]) =
      ids.map(i => (i, t0 + i * 60L * 1000000L, i * 10L))
        .toDF("id", "start", "trace_id")
    // LSM land: staged flushes visible to both read APIs pre-drain
    store.writeStaged(batch(Seq(1L, 2L)))
    store.writeStaged(batch(Seq(3L)))
    assert(store.stagedFileCount > 0)
    assert(store.read(None, None).get.select("id").as[Long]
      .collect().toSet == Set(1L, 2L, 3L))
    // drain through the policy; partitioned tree answers identically
    assert(store.maybeCompact(maxStagedFiles = 1))
    assert(store.stagedFileCount == 0)
    assert(store.read(None, None).get.select("id").as[Long]
      .collect().toSet == Set(1L, 2L, 3L))
    // reference-shaped prefix read (directory listings through the FS)
    val viaPrefix = store.readPrefixes(t0, t0 + 4L * 60L * 1000000L)
      .get.select("id").as[Long].collect().toSet
    assert(viaPrefix == Set(1L, 2L, 3L))
    // coarse-granularity rewrite: prefix read takes the ancestor-file
    // fallback (per-ancestor listings through the FS, memoized)
    store.compact(granularity = "hour")
    assert(store.readPrefixes(t0, t0 + 4L * 60L * 1000000L)
      .get.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    // time-pruned hive read drops partition cols as usual
    val pruned = store.read(Some(t0), Some(t0 + 120L * 1000000L)).get
    assert(pruned.columns.toSet == Set("id", "start", "trace_id"))
    assert(pruned.select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("manifest lifecycle: compact publishes, reads agree with " +
      "listing, staged appends stay valid, write() invalidates") {
    val root = newRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    def batch(ids: Seq[Long]) =
      ids.map(i => (i, t0 + i * 60L * 1000000L, i * 10L))
        .toDF("id", "start", "trace_id")
    def idsVia(st: ParquetStore) = st.read(None, None).get
      .select("id").as[Long].collect().toSet
    def logical(r: String): String =
      if (r.startsWith("_gen-")) r.substring(r.indexOf('/') + 1) else r
    store.writeStaged(batch(Seq(1L, 2L, 3L)))
    // a staged landing commits: its files are depth-0 manifest entries
    assert(store.manifestPresent, "a staged landing must commit")
    assert(store.manifestFiles.get.forall(r => r.startsWith("_gen-") &&
      !logical(r).contains('/')))
    store.compact()
    val mf = store.manifestFiles.get
    assert(mf.nonEmpty && mf.forall(r => r.startsWith("_gen-") &&
      logical(r).startsWith("date=") && r.endsWith(".parquet")),
      s"paths: $mf")
    assert(idsVia(store) == Set(1L, 2L, 3L))
    // the drained staged file is tombstoned, not deleted — on disk for
    // concurrent readers until vacuum, invisible to new plans
    assert(store.manifestDead.get.exists(r => !logical(r).contains('/')))
    assert(store.stagedFileCount == 0)
    val win = (t0, t0 + 4L * 60L * 1000000L)
    def prefixIds() = store.readPrefixes(win._1, win._2)
      .get.select("id").as[Long].collect().toSet
    assert(prefixIds() == Set(1L, 2L, 3L))
    // LSM: a staged append commits its own generation and reads see
    // its rows before any drain
    store.writeStaged(batch(Seq(4L)))
    assert(store.stagedFileCount == 1)
    assert(idsVia(store) == Set(1L, 2L, 3L, 4L))
    // a partitioned write commits its own generation: the manifest
    // lists the new tree and keeps its recorded schema
    store.write(batch(Seq(5L)))
    assert(store.manifestPresent && store.manifestSchema.isDefined,
      "write must commit through the manifest, schema kept")
    assert(store.manifestFiles.get.count(r =>
      logical(r).contains("minute=")) == 4)
    assert(idsVia(store) == Set(1L, 2L, 3L, 4L, 5L))
    assert(store.readPrefixes(t0, t0 + 6L * 60L * 1000000L)
      .get.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L, 5L),
      "prefix reads must see committed appends and staged rows")
    // (the t0..4min window end-bumps into id 4's minute — staged rows
    // are minute-granular like the directory contract)
    assert(prefixIds() == Set(1L, 2L, 3L, 4L))
    // the next drain folds the staged rows and the appended tree
    store.compact()
    assert(store.manifestPresent)
    assert(idsVia(store) == Set(1L, 2L, 3L, 4L, 5L))
    assert(store.manifestFiles.get.forall(r =>
      r.startsWith("_gen-") && logical(r).startsWith("date=")))
    // vacuum reclaims everything superseded; reads unchanged
    store.vacuum(graceMs = 0L)
    assert(idsVia(store) == Set(1L, 2L, 3L, 4L, 5L))
    assert(store.manifestDead.get.isEmpty)
  }

  test("manifest publish is an expected-parent CAS: a commit planned " +
      "from a superseded generation is rejected whole") {
    val root = newRoot()
    val tableDir = s"$root/span"
    val fs = graft.store.StoreFs.fs(new org.apache.hadoop.fs.Path(tableDir))
    val m = new graft.store.StoreManifest(fs, tableDir)
    def e(rel: String) = graft.store.StoreManifest.Entry(rel, 1L, 1L)
    // first-ever publish expects NO generation…
    m.publish(Seq(e("a.parquet")), Nil, Nil, Nil, fx, parent = None)
    val g1 = m.genNames().last
    // …and a second first-ever publish (two writers both planning from
    // an empty store) is rejected
    intercept[graft.store.StoreManifest.ConcurrentCommitException] {
      m.publish(Seq(e("b.parquet")), Nil, Nil, Nil, fx, parent = None)
    }
    // a chained commit names its planning generation and lands;
    // lineage is recorded in the generation body
    m.publish(Seq(e("b.parquet")), Nil, Nil, Nil, fx, parent = Some(g1))
    val g2 = m.genNames().last
    assert(m.read().get.parent.contains(g1))
    // a commit still naming g1 — planned before g2 landed — is
    // rejected: its patch was planned without b.parquet
    intercept[graft.store.StoreManifest.ConcurrentCommitException] {
      m.publish(Seq(e("c.parquet")), Nil, Nil, Nil, fx, parent = Some(g1))
    }
    // the rejected publishes left no generation and no temp debris;
    // the table is exactly g2's
    assert(m.genNames() == Seq(g1, g2))
    assert(m.read().get.entries.map(_.rel).sorted ==
      Seq("a.parquet", "b.parquet"))
    assert(graft.store.StoreFs.list(fs,
      new org.apache.hadoop.fs.Path(tableDir, "_manifest"))
      .forall(!_.getPath.getName.startsWith(".tmp-")))
    // the pre-check→rename WINDOW: a second publisher landing fully
    // inside it (both passed the pre-check over parent g2) is caught
    // by the post-rename conflict detection — the publisher that
    // landed first keeps its commit, the later one rolls its own
    // generation back and throws; the race is loud, never a silent
    // lost update
    var raced = false
    m.beforeRename = () => if (!raced) {
      raced = true
      m.publish(Seq(e("d.parquet")), Nil, Nil, Nil, fx, parent = Some(g2))
    }
    try intercept[graft.store.StoreManifest.ConcurrentCommitException] {
      m.publish(Seq(e("x.parquet")), Nil, Nil, Nil, fx, parent = Some(g2))
    } finally m.beforeRename = () => ()
    // the in-window winner's commit is the newest truth and the
    // loser's generation is gone from the retained set
    val snap = m.read().get
    assert(snap.parent.contains(g2))
    assert(snap.entries.map(_.rel).sorted ==
      Seq("a.parquet", "b.parquet", "d.parquet"))
    assert(m.genNames().size == 3) // g1, g2, winner — loser rolled back
    assert(!m.referencedRels().contains("x.parquet"))
    // a crash at the rename itself: the truth stays whole and the
    // partition manifests the failed commit wrote are deleted eagerly
    def mfNames(): Set[String] = graft.store.StoreFs.list(fs,
      new org.apache.hadoop.fs.Path(tableDir, "_manifest/mf"))
      .map(_.getPath.getName).toSet
    val mfsBefore = mfNames()
    m.beforeRename = () => throw new RuntimeException("crash-at-rename")
    val crash = try intercept[RuntimeException] {
      m.publish(adds = Seq(e("date=2024-01-15/y.parquet")),
        drops = Nil, deadPlus = Nil, deadMinus = Nil, schema = fx,
        parent = Some(snap.gen))
    } finally m.beforeRename = () => ()
    assert(crash.getMessage == "crash-at-rename")
    assert(mfNames() == mfsBefore,
      "the crashed commit's manifests must be cleaned up eagerly")
    assert(m.read().get.gen == snap.gen)
  }

  test("manifest: an unpublished rewrite is invisible; a torn " +
      "generation falls back to the previous retained one; coarse " +
      "trees stay covered") {
    val root = newRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    val rows = Seq((1L, t0, 100L), (2L, t0 + 61L * 1000000L, 200L))
      .toDF("id", "start", "trace_id")
    ScaleProbe.writeNativeLayout(rows, s"$root/span", "start")
    store.compact(crashAfterStep = 1) // dies before the commit
    assert(!store.manifestPresent,
      "a crashed compact must not publish a manifest")
    // the orphan rewrite tree is referenced by nothing: reads still
    // answer from the pre-compaction state (the native-layout files)
    assert(store.read(None, None).get.count() == 2)
    store.compact(granularity = "hour")
    assert(store.manifestPresent)
    // hour-grain manifest serves the minute-prefix query through the
    // coarse fallback with zero listings
    assert(store.readPrefixes(t0, t0 + 2L * 60L * 1000000L)
      .get.select("id").as[Long].collect().toSet == Set(1L, 2L))
    // publish a second generation (a no-op-ish drain), then TEAR it:
    // the self-count rejects the truncated body whole and reads fall
    // back to the PREVIOUS retained generation — a stale-but-
    // consistent snapshot, never half a list
    store.compact(granularity = "hour")
    val fsys = graft.store.StoreFs.fs(
      new org.apache.hadoop.fs.Path(s"$root/span"))
    val mdir = new org.apache.hadoop.fs.Path(s"$root/span/_manifest")
    val newestGen = fsys.listStatus(mdir)
      .filter(_.getPath.getName.startsWith("gen-"))
      .maxBy(_.getPath.getName).getPath
    val out = fsys.create(newestGen, true)
    out.write("mlist=7\nm\tmf-torn\tdate=x\t1\t10\n".getBytes("UTF-8"))
    out.close()
    assert(store.manifestPresent,
      "the previous retained generation must still serve")
    assert(store.read(None, None).get.count() == 2)
    // corrupt EVERY generation (garbage schema JSON included — json4s
    // throws its own parse exceptions): the reader must reject them
    // all without crashing; the store degrades to listing mode, where
    // the not-yet-vacuumed native-layout files still hold every row
    fsys.listStatus(mdir).filter(_.getPath.getName.startsWith("gen-"))
      .foreach { g =>
        val o = fsys.create(g.getPath, true)
        o.write("mlist=0\nschema\t{not json]\n".getBytes("UTF-8"))
        o.close()
      }
    assert(!store.manifestPresent, "corrupt generations must be rejected")
    assert(store.read(None, None).get.count() == 2)
  }

  test("manifest-planned prefix reads perform (almost) zero listings; " +
      "the listing planner pays one per directory") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.lcount.impl", classOf[CountingListFileSystem].getName)
    val root = "lcount://" +
      java.nio.file.Files.createTempDirectory("lcount")
    val store = new ParquetStore(spark, root, "span", "start")
    val rows = (1L to 40L).map(i => (i, t0 + i * 60L * 1000000L, i))
      .toDF("id", "start", "trace_id")
    store.writeStaged(rows)
    store.compact() // ~40 minute dirs
    def readAll(st: ParquetStore) =
      st.readPrefixes(t0, t0 + 41L * 60L * 1000000L).get.count()
    assert(readAll(store) == 40L) // warm: FS instance cache, session state
    CountingListFileSystem.lists.set(0)
    assert(readAll(store) == 40L)
    val planLists = CountingListFileSystem.lists.get
    // the only permitted listing is the _manifest state lookup — the
    // 40 minute dirs and their date/hour parents are NEVER listed,
    // and the scan itself opens files by manifest size/offset
    assert(planLists <= 1, s"manifest-planned read listed $planLists×")
    // a store in duo's native layout (no manifest) plans by listing:
    // one list per parent dir + Spark's file index lists each prefix
    // dir it is handed — the O(dirs) cost the manifest removes.
    // parallelPartitionDiscovery would push those listings to
    // executors past 32 dirs, where this driver-side counter can't see
    // them — keep the probe driver-side regardless of deployment mode
    spark.conf.set(
      "spark.sql.sources.parallelPartitionDiscovery.threshold", "256")
    try {
      val root2 = "lcount://" +
        java.nio.file.Files.createTempDirectory("lcountlegacy")
      val legacy = new ParquetStore(spark, root2, "span", "start")
      ScaleProbe.writeNativeLayout(rows, s"$root2/span", "start")
      assert(!legacy.manifestPresent)
      assert(readAll(legacy) == 40L)
      CountingListFileSystem.lists.set(0)
      assert(readAll(legacy) == 40L)
      val listingLists = CountingListFileSystem.lists.get
      assert(listingLists >= 40,
        s"expected O(dirs) listings without a manifest, got $listingLists")
    } finally spark.conf.unset(
      "spark.sql.sources.parallelPartitionDiscovery.threshold")
  }

  test("staged landings plan from the manifest: a window read and a " +
      "prefix read list nothing but _manifest and run one Spark job") {
    // before staged landings committed, each of these reads listed
    // the staging dir, listed every staged file and ran a footer-merge
    // job; now the only listing is the generation lookup every
    // manifest read makes
    spark.sparkContext.hadoopConfiguration
      .set("fs.lcount.impl", classOf[CountingListFileSystem].getName)
    val root = "lcount://" +
      java.nio.file.Files.createTempDirectory("lcountstaged")
    val store = new ParquetStore(spark, root, "span", "start")
    def rows(ids: Seq[Long]) =
      ids.map(i => (i, t0 + i * 60L * 1000000L, i))
        .toDF("id", "start", "trace_id")
    store.write(rows(1L to 10L))
    store.writeStaged(rows(11L to 15L))
    store.writeStaged(rows(16L to 20L))
    assert(store.stagedFileCount >= 2)
    // the caller-pinned form g07 uses; the no-schema form plans from
    // the same recorded schema ("no manifested read infers a schema")
    val schema = store.manifestSchema
    assert(schema.isDefined)
    val (lo, hi) = (t0 + 5L * 60L * 1000000L, t0 + 18L * 60L * 1000000L)
    def measured(read: => org.apache.spark.sql.DataFrame)
        : (Set[Long], Int, Seq[String]) = {
      CountingListFileSystem.reset()
      val (ids, jobs) =
        withJobCount(read.select("id").as[Long].collect().toSet)
      import scala.jdk.CollectionConverters._
      (ids, jobs, CountingListFileSystem.paths.asScala.toSeq)
    }
    val reads = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "read" -> (() => store.read(Some(lo), Some(hi)).get),
      "readPrefixes" -> (() => store.readPrefixes(lo, hi, schema).get))
    for ((name, read) <- reads) {
      measured(read()) // warm: FS instance cache, session state
      val (ids, nJobs, listed) = measured(read())
      assert(ids == (5L to 18L).toSet, name)
      assert(nJobs == 1, s"$name ran $nJobs jobs")
      assert(listed.size == 1 && listed.forall(_.endsWith("/_manifest")),
        s"$name listed ${listed.mkString(", ")}")
    }
  }

  test("no manifested read infers a schema: every commit over duo's " +
      "native layout records one, and each read plans from it") {
    // one store per commit kind that must record the schema: a read
    // of a generation without one would need a footer-merge job per
    // partition depth before its scan
    spark.sparkContext.hadoopConfiguration
      .set("fs.lcount.impl", classOf[CountingListFileSystem].getName)
    val day = 24L * 3600L * 1000000L
    def rows(ids: Seq[Long]) = ids.map(i =>
        (i, t0 + (i % 3L) * day + i * 60L * 1000000L, i))
      .toDF("id", "start", "trace_id")
    val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone"))
    val date0 = java.time.LocalDate.ofInstant(
      java.time.Instant.ofEpochSecond(t0 / 1000000L), zone).toString
    val commits = Seq[(String, ParquetStore => Unit)](
      "first write" -> (_.write(rows(Seq(10L)))),
      "first compactDate" -> (_.compactDate(date0)),
      "expire" -> (st => st.expire(t0 + day): Unit),
      "drifted applyMirror" -> (_.applyMirror(
        Some(Seq((11L, t0 + 11L * 60L * 1000000L, 11L, "prod"))
          .toDF("id", "start", "trace_id", "env")),
        Some(rows(Seq(3L))), Seq("id"))),
      "replaceCommitted(None), then a write" -> { st =>
        st.replaceCommitted(None); st.write(rows(Seq(12L)))
      })
    for ((name, commit) <- commits) {
      val root = "lcount://" +
        java.nio.file.Files.createTempDirectory("lcountnoinfer")
      ScaleProbe.writeNativeLayout(rows(1L to 9L), s"$root/span", "start")
      val store = new ParquetStore(spark, root, "span", "start")
      commit(store)
      assert(store.manifestSchema.isDefined, s"$name recorded no schema")
      val head = store.generations().last
      // a later append makes a generation pair to diff
      store.write(rows(Seq(13L)))
      val next = store.generations().last
      val reads = Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "read" -> (() => store.read(Some(t0), Some(t0 + 3L * day)).get),
        "readPrefixes" -> (() => store.readPrefixes(t0, t0 + 3L * day).get),
        "readGeneration" -> (() => store.readGeneration(head).get),
        "changesBetween" -> (() => store.changesBetween(head, next).get))
      for ((read, plan) <- reads) {
        plan().count(): Unit // warm: FS instance cache, session state
        CountingListFileSystem.reset()
        val df = plan()
        val planOpens = CountingListFileSystem.opens.get
        val (_, jobs) = withJobCount(plan().collect())
        assert(jobs == 1 && planOpens <= 1 && df.columns.contains("id"),
          s"$name: $read ran $jobs jobs, opened $planOpens files to plan")
      }
    }
  }

  test("a first write over duo's native layout walks the legacy tree " +
      "once: its commit folds in the walk its planning took") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.lcount.impl", classOf[CountingListFileSystem].getName)
    val local = java.nio.file.Files.createTempDirectory("lcountwalk")
    val root = s"lcount://$local"
    def rows(ids: Seq[Long]) = ids.map(i => (i, t0 + i * 60L * 1000000L, i))
      .toDF("id", "start", "trace_id")
    ScaleProbe.writeNativeLayout(rows(1L to 6L), s"$root/span", "start")
    val table = local.resolve("span")
    // one walk lists the table dir and every date/hour/minute dir
    val legacyDirs = {
      val it = java.nio.file.Files.walk(table)
      try it.iterator().asScala.count(p => java.nio.file.Files.isDirectory(p))
      finally it.close()
    }
    val store = new ParquetStore(spark, root, "span", "start")
    CountingListFileSystem.reset()
    store.write(rows(Seq(7L)))
    val listed = CountingListFileSystem.paths.asScala.toSeq
      .map(p => p.substring(p.indexOf(table.toString) +
        table.toString.length).stripPrefix("/"))
    // outside the legacy tree only the generation, manifest and lease
    // lookups and the landed `_gen-*` tree are listed
    val (other, legacy) = listed.partition(_.startsWith("_"))
    assert(other.forall(r => Set("_manifest", "_manifest/mf", "_lock")(r) ||
        r.startsWith("_gen-")), s"listed outside the tree: $other")
    assert(legacy.size <= legacyDirs,
      s"${legacy.size} legacy listings for $legacyDirs dirs: $legacy")
    assert(store.read(None, None).get.count() == 7L)
  }

  test("incremental manifest maintenance: a per-date drain walks only " +
      "its subtree; expiry republishes without walking at all") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.lcount.impl", classOf[CountingListFileSystem].getName)
    val root = "lcount://" +
      java.nio.file.Files.createTempDirectory("lcountinc")
    val store = new ParquetStore(spark, root, "span", "start")
    val day = 24L * 3600L * 1000000L
    // three dates × two minutes each
    val rows = (0 until 3).flatMap(d => Seq(
        (d * 10L + 1L, t0 + d * day, 1L),
        (d * 10L + 2L, t0 + d * day + 60L * 1000000L, 2L)))
      .toDF("id", "start", "trace_id")
    store.writeStaged(rows)
    store.compact()
    def logical(r: String): String =
      if (r.startsWith("_gen-")) r.substring(r.indexOf('/') + 1) else r
    val before = store.manifestFiles.get
    val dates = before.map(r => logical(r).split("/").head
      .stripPrefix("date=")).distinct.sorted
    assert(dates.size == 3)
    // drain date 0 alone: the commit re-walks ONE rewrite tree (the
    // date's new files), never the other two dates' subtrees
    CountingListFileSystem.reset()
    store.compactDate(dates.head)
    val listedDuringDrain =
      CountingListFileSystem.paths.toArray(Array.empty[String]).toSeq
    assert(!listedDuringDrain.exists(p =>
        p.contains(s"date=${dates(1)}") || p.contains(s"date=${dates(2)}")),
      s"a date-0 drain must never list other dates' subtrees; " +
        s"listed: $listedDuringDrain")
    val after = store.manifestFiles.get
    assert(after.count(r =>
      logical(r).startsWith(s"date=${dates.head}/")) > 0)
    assert(after.filterNot(r =>
        logical(r).startsWith(s"date=${dates.head}/")).toSet ==
      before.filterNot(r =>
        logical(r).startsWith(s"date=${dates.head}/")).toSet,
      "untouched dates' entries must carry over verbatim")
    // reads still agree with the incremental manifest
    assert(store.read(None, None).get.count() == 6)
    assert(store.manifestPresent)
    // expire the first date: survivor list published with NO tree walk
    // and no eager deletes (the dropped files are tombstoned for
    // vacuum, so concurrent readers stay green)
    val preExpire = store.manifestFiles.get
    CountingListFileSystem.reset()
    val (droppedDirs, _) = store.expire(t0 + day + 1L)
    val listedDuringExpire =
      CountingListFileSystem.paths.toArray(Array.empty[String]).toSeq
    assert(droppedDirs == 1)
    assert(store.manifestFiles.get.toSet ==
      preExpire.filterNot(r =>
        logical(r).startsWith(s"date=${dates.head}/")).toSet)
    // expire lists only the manifest state and the staging dir — never
    // inside any date subtree, not even the table root
    assert(!listedDuringExpire.exists(_.contains("/hour=")),
      s"expiry must not walk date subtrees; listed: $listedDuringExpire")
    assert(store.read(None, None).get.count() == 4)
  }

  test("the manifest's recorded schema removes footer inference from " +
      "plan time: one GET plans the whole table") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.lcount.impl", classOf[CountingListFileSystem].getName)
    val root = "lcount://" +
      java.nio.file.Files.createTempDirectory("lcountsch")
    val store = new ParquetStore(spark, root, "span", "start")
    val rows = (1L to 40L).map(i => (i, t0 + i * 60L * 1000000L, i))
      .toDF("id", "start", "trace_id")
    store.writeStaged(rows)
    store.compact()
    val recorded = store.manifestSchema
    assert(recorded.exists(_.fieldNames.toSet ==
      Set("id", "start", "trace_id")), s"schema missing: $recorded")
    store.read(None, None).get.count(): Unit // warm FS + session state
    CountingListFileSystem.reset()
    val df = store.read(None, None).get // plan only — no action
    val planOpens = CountingListFileSystem.opens.get
    assert(planOpens <= 1,
      s"schema-carrying manifest must plan with one GET, opened $planOpens")
    assert(df.columns.toSet ==
      Set("id", "start", "trace_id"))
    assert(df.count() == 40L)
    // strip the schema line (the mlist= header counts manifest refs
    // only, so the generation stays valid) — the shape a build at or
    // before 1ac9815 published: planning from it is refused loudly,
    // never answered by footer inference or by the older generation
    val fsys = graft.store.StoreFs.fs(
      new org.apache.hadoop.fs.Path(s"$root/span"))
    // the newest generation (the drain's checkpoint; the staged
    // landing published the one before it)
    val gen = fsys.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/span/_manifest"))
      .filter(_.getPath.getName.startsWith("gen-"))
      .maxBy(_.getPath.getName).getPath
    val rawGen =
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(fsys.open(gen))
    // checkpoint bodies are gzip on disk since round 18 — decompress
    // to edit; writing the stripped body back PLAIN is fine (reads
    // sniff the magic, both encodings read)
    val body = new String(
      new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(rawGen)).readAllBytes(),
      "UTF-8")
    val stripped = body.linesIterator.filterNot(_.startsWith("schema\t"))
      .mkString("", "\n", "\n")
    val out = fsys.create(gen, true)
    out.write(stripped.getBytes("UTF-8")); out.close()
    assert(store.manifestPresent)
    val refused = Seq[(String, () => Any)](
      "read" -> (() => store.read(None, None)),
      "readPrefixes" -> (() => store.readPrefixes(t0, t0 + 41L * 60000000L)),
      "readGeneration" -> (() => store.readGeneration(gen.getName)),
      "compact" -> (() => store.compact()))
    for ((name, op) <- refused) {
      val e = intercept[graft.store.StoreManifest.MissingSchemaException](
        op())
      assert(e.getMessage.contains(gen.getName) &&
        e.getMessage.contains("compact()"), s"$name: ${e.getMessage}")
    }
    // the store's metadata surface and vacuum keep working
    assert(store.generations().last == gen.getName)
    assert(store.generationReadable(gen.getName))
    assert(store.generationInfos().contains(gen.getName))
    assert(store.vacuumStandDowns().isEmpty)
    store.vacuum(graceMs = 0L): Unit
    assert(store.generations().last == gen.getName)
  }

  test("rowGroupRanges plans from the manifest: footer-stats " +
      "readback with zero tree listings") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.lcount.impl", classOf[CountingListFileSystem].getName)
    val root = "lcount://" +
      java.nio.file.Files.createTempDirectory("lcountrg")
    val store = new ParquetStore(spark, root, "span", "start")
    val rows = (1L to 400L).map(i =>
      (i, t0 + (i % 40L) * 60L * 1000000L, t0 + (i % 40L) * 60L * 1000000L
        + (i % 7L) * 1000000L, i))
      .toDF("id", "start", "end", "trace_id")
    store.writeStaged(rows)
    // z-ordered drain with small row groups — the layout the skip
    // measurement is about
    store.compact(
      zorderOn = Some((
        ((col("start") % 60000000L) / 1000L).cast("long"),
        least((col("end") - col("start")) / 1000L, lit(65535L))
          .cast("long"))),
      blockSize = Some(32 * 1024L))
    store.vacuum(graceMs = 0L)
    store.rowGroupRanges(Seq("start", "end")): Unit // warm FS handles
    CountingListFileSystem.reset()
    val ranges = store.rowGroupRanges(Seq("start", "end"))
    assert(ranges.nonEmpty)
    assert(ranges.forall { case (_, m) =>
      m("start")._1 <= m("start")._2 && m("end")._1 <= m("end")._2 })
    // the only listing is the _manifest state lookup — the partitioned
    // tree itself is never walked (footer opens are reads, not LISTs)
    val lists = CountingListFileSystem.lists.get
    assert(lists <= 2, s"manifest-planned rowGroupRanges listed $lists×")
  }

  test("time-ranged reads prune to the window's minute partitions, " +
      "not the whole day; coarse trees prune at their own grain") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scanNumFiles(df: org.apache.spark.sql.DataFrame): Long = {
      // collect() executes THIS df's own queryExecution (count() would
      // build a new one and leave these metrics untouched)
      df.collect(): Unit
      def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case f: FileSourceScanExec => Seq(f)
        case o => o.children.flatMap(walk)
      }
      walk(df.queryExecution.executedPlan)
        .map(_.metrics("numFiles").value).sum
    }
    val root = newRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    // six rows in six distinct minutes straddling an hour boundary
    val rows = Seq(0L, 1L, 2L, 59L, 60L, 61L).zipWithIndex.map {
      case (m, i) => (i.toLong, t0 + m * 60L * 1000000L, i.toLong) }
      .toDF("id", "start", "trace_id")
    store.writeStaged(rows)
    store.compact() // minute grain: six files
    val win = (t0 + 60L * 1000000L, t0 + 2L * 60L * 1000000L + 1L)
    val minuteRead = store.read(Some(win._1), Some(win._2)).get
    assert(minuteRead.select("id").as[Long].collect().toSet == Set(1L, 2L))
    assert(scanNumFiles(minuteRead) == 2L,
      "a two-minute window over a minute tree must plan exactly 2 files")
    // hour-compacted tree: same window, same rows, hour-grain pruning
    store.compact(granularity = "hour")
    val hourRead = store.read(Some(win._1), Some(win._2)).get
    assert(hourRead.select("id").as[Long].collect().toSet == Set(1L, 2L))
    assert(scanNumFiles(hourRead) == 1L,
      "the window sits in one hour: the other hour's file must prune")
  }

  test("planCompactions flags fragmented dates from the manifest " +
      "alone and goes quiet once compactDate heals them") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.lcount.impl", classOf[CountingListFileSystem].getName)
    val root = "lcount://" +
      java.nio.file.Files.createTempDirectory("lcountplan")
    val store = new ParquetStore(spark, root, "span", "start")
    val day = 24L * 3600L * 1000000L
    def batch(ids: Seq[Long], dayOff: Long) =
      ids.map(i => (i, t0 + dayOff * day + (i % 3) * 60L * 1000000L, i))
        .toDF("id", "start", "trace_id")
    // day 0: ten direct flushes into the same few minutes (the
    // fragmentation source); day 1: one flush
    (0L until 10L).foreach(k =>
      store.write(batch(Seq(k * 3, k * 3 + 1, k * 3 + 2), 0L)))
    store.write(batch(Seq(100L, 101L, 102L), 1L))
    // no manifest yet (direct writes invalidate): planning walks.
    // day 0 has 30 files over 3 minute dirs (> cap, leaf guard trips);
    // day 1 has 3 files over 3 dirs — already one per leaf, never
    // flagged however tiny its files (compactDate could not improve it)
    val dates = store.planCompactions(maxFilesPerDate = 8,
      minAvgBytes = 0L)
    assert(dates.size == 1, s"expected one fragmented date, got $dates")
    // the avg-size rule respects the same leaf-dir convergence guard:
    // an absurd floor still flags only the multi-file-per-leaf date
    assert(store.planCompactions(maxFilesPerDate = 1000,
      minAvgBytes = Long.MaxValue / 4) == dates)
    // heal it; the scoped republish makes the NEXT plan one GET with
    // zero listings
    store.compact() // full drain publishes the manifest
    store.compactDate(dates.head)
    CountingListFileSystem.reset()
    assert(store.planCompactions(maxFilesPerDate = 8,
      minAvgBytes = 0L).isEmpty)
    assert(!CountingListFileSystem.paths.toArray(Array.empty[String])
        .exists(_.contains("/date=")),
      "a manifest-backed plan must not list any date subtree")
    // post-heal, even the absurd floor is quiet: one file per leaf is
    // the planner's fixed point
    assert(store.planCompactions(maxFilesPerDate = 1000,
      minAvgBytes = Long.MaxValue / 4).isEmpty)
    // an hour-compacted tree is skipped outright (compactDate needs
    // the minute layout; coarse grain is a deliberate layout choice)
    store.compact(granularity = "hour")
    assert(store.planCompactions(maxFilesPerDate = 0,
      minAvgBytes = Long.MaxValue / 4).isEmpty,
      "coarse-grain dates must never be flagged")
    assert(store.read(None, None).get.count() == 33L)
  }

  test("non-UTC session: pruning bounds and the expiry cutoff follow " +
      "the session timezone — no rows lost near the local/UTC day split") {
    val tzKey = "spark.sql.session.timeZone"
    val prior = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/New_York") // UTC-4 on this date
      val root = newRoot()
      val store = new ParquetStore(spark, root, "span", "start")
      // rows at UTC 02:30 / 03:30 land on the PREVIOUS local date
      // (hours 22/23 of 2025-10-08 New York)
      val base = java.time.Instant.parse("2025-10-09T00:00:00Z")
        .toEpochMilli * 1000L
      val h = 3600L * 1000000L
      val rows = Seq((1L, base + 2L * h + 30L * 60L * 1000000L, 1L),
          (2L, base + 3L * h + 30L * 60L * 1000000L, 2L))
        .toDF("id", "start", "trace_id")
      store.writeStaged(rows)
      store.compact()
      // upper bound exactly at row 2's instant: pure-UTC hour math
      // would derive hour 3 and prune the hour=23 partition — the
      // session-timezone bounds must keep both rows
      val got = store.read(Some(base + 2L * h),
          Some(base + 3L * h + 30L * 60L * 1000000L)).get
        .select("id").as[Long].collect().toSet
      assert(got == Set(1L, 2L),
        s"window rows lost to timezone-skewed pruning: $got")
      // expiry cutoff at UTC midnight: its NY calendar day is STILL
      // 2025-10-08, so the date=2025-10-08 dir (whose rows are AFTER
      // the cutoff instant) must survive — a UTC cutoff day dropped it
      val (dropped, _) = store.expire(base)
      assert(dropped == 0, "expiry deleted rows newer than the cutoff")
      assert(store.read(None, None).get.count() == 2)
    } finally spark.conf.set(tzKey, prior)
  }

  test("DST fall-back: minute-grain pruning keeps the repeated hour " +
      "whole — no rows lost where local minutes are not monotone") {
    val tzKey = "spark.sql.session.timeZone"
    val prior = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/New_York")
      val root = newRoot()
      val store = new ParquetStore(spark, root, "span", "start")
      // 2021-11-07: clocks fall back 02:00 EDT → 01:00 EST, so local
      // 01:00-01:59 happens TWICE (05:00-05:59Z as EDT, 06:00-06:59Z
      // as EST). Minute values in that local hour are NOT monotone in
      // event time: 01:05 EST (06:05Z) is 15 minutes AFTER 01:50 EDT
      // (05:50Z).
      val r1 = java.time.Instant.parse("2021-11-07T05:50:00Z")
        .toEpochMilli * 1000L // local 01:50 EDT → minute=50
      val r2 = java.time.Instant.parse("2021-11-07T06:05:00Z")
        .toEpochMilli * 1000L // local 01:05 EST → minute=05
      store.writeStaged(Seq((1L, r1, 1L), (2L, r2, 2L))
        .toDF("id", "start", "trace_id"))
      store.compact() // minute-grain dirs derived in the session zone
      // window [r1, r2]: a naive minute-grain lower bound (minute ≥ 50
      // within hour 01) prunes r2's minute=05 partition even though
      // its instant is INSIDE the window; the upper bound (minute ≤ 5)
      // symmetrically prunes r1. Near a transition the boundary hour
      // must be kept whole — the exact row predicate does the rest.
      val got = store.read(Some(r1), Some(r2)).get
        .select("id").as[Long].collect().toSet
      assert(got == Set(1L, 2L),
        s"rows lost to non-monotone DST minutes: $got")
      // and each one-sided window too (lower-only / upper-only bounds)
      assert(store.read(Some(r1 + 1L), Some(r2)).get
        .select("id").as[Long].collect().toSet == Set(2L))
      assert(store.read(Some(r1), Some(r2 - 1L)).get
        .select("id").as[Long].collect().toSet == Set(1L))
    } finally spark.conf.set(tzKey, prior)
  }

  test("crash-interrupted compaction reads complete at every step on " +
      "the FS scheme") {
    (1 to 2).foreach { step =>
      val root = newRoot()
      val store = new ParquetStore(spark, root, "span", "start")
      store.write(Seq((1L, t0, 100L), (2L, t0 + 1000L, 200L))
        .toDF("id", "start", "trace_id"))
      store.compact(crashAfterStep = step)
      // whatever the crash point, a reader finds a complete table —
      // the manifest publish is the single atomic commit through the
      // FS API; before it the rewrite tree is referenced by nothing
      val rows = store.read(None, None).get.select("id").as[Long]
        .collect().toSeq.sorted
      assert(rows == Seq(1L, 2L), s"crash after step $step")
      // and a FRESH store over the same root answers identically
      val again = new ParquetStore(spark, root, "span", "start")
      assert(again.read(None, None).get.count() == 2, s"fresh, step $step")
    }
  }

  test("w11 ingest loop lands and queries identically through the FS " +
      "scheme root") {
    // the store's hottest call site — streamed flushes through
    // writeStaged, the LSM policy probe, and the pruning read-back —
    // run against a rawtest:// root and must answer the w11 gate's
    // query byte-identically to the local-path root
    val d = "/root/testdata/sf0.001"
    val (raw, logs) = graft.queries.EngineQueries.ordersAsSpans(spark, d)
    val local = graft.queries.EngineQueries
      .ingestLoopRun(spark, raw, logs).collect().toSeq
    val viaFs = graft.queries.EngineQueries
      .ingestLoopRun(spark, raw, logs, storeRoot = Some(newRoot()))
      .collect().toSeq
    assert(local.nonEmpty)
    assert(viaFs == local)
  }

  private def tornRoot(): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.torn.impl", classOf[TornRenameFileSystem].getName)
    TornRenameFileSystem.tearDstPrefix = None
    "torn://" + java.nio.file.Files.createTempDirectory("tornstore").toString
  }

  private def rootNames(root: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).map(_.getPath.getName).toSet
  }

  // rows across two date partitions so a torn directory rename really
  // SPLITS the table (half the date dirs moved, half left behind)
  private val dayUs = 86400L * 1000000L
  private def spanRows(ids: Seq[Long]) =
    ids.map(i => (i, t0 + (i % 2) * dayUs, i)).toDF("id", "start", "trace_id")

  test("no directory rename exists to tear: the full lifecycle on a " +
      "tearing FS never triggers a tear and loses no rows") {
    // The round-15 store promoted compactions by renaming whole
    // directory trees — on an object store a non-atomic, tearable
    // operation that needed a marker-driven phase machine to survive.
    // The manifest-commit protocol replaced every one of those: a
    // rewrite lands in a fresh `_gen-*` tree and the only rename ANY
    // mutation performs is the single manifest FILE's (atomic on every
    // FS; a torn body is rejected by its self-count). This pins that
    // claim mechanically: arm the tearing FS for every directory name
    // the store ever targets and run the whole lifecycle — the tear
    // must never even FIRE, and every row must survive.
    val root = tornRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    val tornBefore = TornRenameFileSystem.torn.get()
    def lifecycle(prefix: String): Unit = {
      TornRenameFileSystem.tearDstPrefix = Some(prefix)
      store.writeStaged(spanRows(1L to 6L))
      store.compact()
      store.writeStaged(spanRows(7L to 8L))
      store.compact(filesPerPartition = 2)
      val date = java.time.Instant.ofEpochSecond(t0 / 1000000L)
        .toString.take(10)
      store.compactDate(date)
      store.vacuum(graceMs = 0L)
      assert(store.read(None, None).get.select("id").as[Long]
        .collect().toSet == (1L to 8L).toSet, s"rows lost under $prefix")
    }
    // every directory family the old swap machinery renamed, plus the
    // new trees and store-metadata dirs themselves. (Spark's OWN job
    // committer renames `date=…` dirs from `_temporary` inside the
    // tree being written — internal to one write call, never a
    // cross-reader promote — so that name is Spark's to manage, not
    // part of the store's metadata protocol.)
    Seq("span", ".old-span", ".compact-span", "_gen-", "_staging",
      "_manifest").foreach(lifecycle)
    assert(TornRenameFileSystem.torn.get() == tornBefore,
      "a directory rename fired — the commit protocol must not rename trees")
    TornRenameFileSystem.tearDstPrefix = None
    // and no swap-era leftovers ever appear at the root
    val leftover = rootNames(root)
      .filter(n => n.startsWith(".swap") || n.startsWith(".old-") ||
        n.startsWith(".compact-"))
    assert(leftover.isEmpty, leftover.toString)
  }

  test("engine root on the FS scheme: registries, WAL, flush, restart") {
    val root = newRoot()
    val e1 = new DuoEngine(spark, root, walFormat = "arrow")
    e1.processes.register("svc", Map.empty)
    val logs = Seq(("svc-0", t0 + 500L, "INFO", "hello", 7L))
      .toDF("process_id", "time", "level", "message", "flag")
    e1.appendLogBatch(logs)
    // crash before flush: WAL (arrow IPC through the FS stream) replays
    val e2 = new DuoEngine(spark, root, walFormat = "arrow")
    assert(e2.logTable().filter(col("flag") === 7L).count() == 1)
    assert(e2.services() == Seq("svc")) // process registry JSON via FS
    e2.flush() // parquet store + WAL clear through the FS
    val e3 = new DuoEngine(spark, root, walFormat = "arrow")
    assert(e3.logTable().count() == 1)
    // dynamic schema registry persisted and re-merged through the FS
    assert(e3.logTable().columns.contains("flag"))
  }

  test("engine maintenance heals flush fragmentation: maintain() " +
      "compacts the flagged dates and queries are unchanged") {
    val root = newRoot()
    val e = new DuoEngine(spark, root, walFormat = "arrow")
    import org.apache.spark.sql.functions.lit
    // ten cadence flushes into the same minute: ten log files land
    (0 until 10).foreach { k =>
      e.appendLogBatch(Seq((s"svc-$k", t0 + k * 1000L, "INFO", s"m$k", k.toLong))
        .toDF("process_id", "time", "level", "message", "flag"))
      e.flush()
    }
    val before = e.logTable().count()
    val healed = e.maintain(maxFilesPerDate = 4, minAvgBytes = 0L)
    assert(healed("log").size == 1, s"expected one healed date: $healed")
    assert(healed("span").isEmpty)
    // healed: the planner goes quiet and the table reads identically
    assert(e.maintain(maxFilesPerDate = 4, minAvgBytes = 0L)
      .values.forall(_.isEmpty))
    assert(e.logTable().count() == before)
    assert(e.logTable().where(lit(true)).select("flag")
      .as[Long].collect().toSet == (0L until 10L).toSet)
  }

  test("lease housekeeping: vacuum prunes every superseded writer " +
      "lease; the fence itself is unchanged") {
    val root = newRoot()
    def claim(): ParquetStore = {
      val s = new ParquetStore(spark, root, "span", "start")
      // first mutation claims the lease
      s.writeStaged(Seq((1L, t0, 1L)).toDF("id", "start", "trace_id"))
      s
    }
    val stores = (0 until 5).map(_ => claim())
    val lockDir = new org.apache.hadoop.fs.Path(s"$root/span/_lock")
    val fsys = graft.store.StoreFs.fs(lockDir)
    def leases() = fsys.listStatus(lockDir).map(_.getPath.getName)
      .filter(_.startsWith("lease-")).toSeq
    // claims self-prune to a bounded residue, but never to zero
    assert(leases().size >= 2 && leases().size <= 4, leases().toString)
    stores.last.vacuum(graceMs = 0L): Unit
    assert(leases().size <= 2,
      s"vacuum must prune superseded leases: ${leases()}")
    // the fence still stands: a superseded writer's next mutation dies
    intercept[graft.store.ParquetStore.WriterFencedException] {
      stores.head.writeStaged(
        Seq((2L, t0, 2L)).toDF("id", "start", "trace_id"))
    }
  }

  test("delta-log commits: cadence rolls checkpoints, per-commit bytes " +
      "scale with the delta, torn/missing links fall back whole") {
    import graft.store.{StoreFs, StoreManifest}
    val local = java.nio.file.Files.createTempDirectory("deltalog")
    val fsys = StoreFs.fs(new org.apache.hadoop.fs.Path(local.toString))
    val m = new StoreManifest(fsys, local.toString)
    val mdir = new org.apache.hadoop.fs.Path(local.toString, "_manifest")
    def genFiles() = fsys.listStatus(mdir)
      .filter(_.getPath.getName.startsWith("gen-")).sortBy(_.getPath.getName)
    // per-commit TOTAL bytes = the generation file plus the partition
    // manifests that commit wrote (round 19: entries live in
    // _manifest/mf/ files, the generation only references them) —
    // measured as the growth of the whole metadata footprint after
    // each commit vs before (retention's deletions included)
    def metaBytes() = {
      val gens = fsys.listStatus(mdir)
        .filter(_.getPath.getName.startsWith("gen-")).map(_.getLen).sum
      val mfp = new org.apache.hadoop.fs.Path(mdir, "mf")
      val mfs = if (fsys.exists(mfp))
        fsys.listStatus(mfp).map(_.getLen).sum else 0L
      gens + mfs
    }
    // a large table: the checkpoint writes O(files) manifest bytes,
    // each append's commit must NOT
    val base = (0 until 5000).map(i => StoreManifest.Entry(
      f"date=2024-01-15/part-$i%05d.parquet", 1000L + i, 1700000000000L + i))
    m.publish(base, Nil, Nil, Nil, fx, parent = None)
    assert(genFiles().last.getPath.getName.endsWith(".list"),
      "first publish must be a checkpoint")
    val checkpointBytes = metaBytes()
    // flush-cadence commits: +5 files each → a tiny .delta plus one
    // 5-entry manifest
    var entries = base
    var parent = m.read().map(_.gen)
    val deltaSizes = (0 until 6).map { k =>
      val before = metaBytes()
      val adds = (0 until 5).map(i => StoreManifest.Entry(
        f"date=2024-01-16/part-$k%02d-$i.parquet", 999L, 1700000100000L + k))
      entries = entries ++ adds
      m.publish(adds, Nil, Nil, Nil, fx, parent)
      val newest = genFiles().last
      parent = Some(newest.getPath.getName)
      assert(newest.getPath.getName.endsWith(".delta"),
        s"append commit $k should be a delta")
      metaBytes() - before
    }
    assert(deltaSizes.max < checkpointBytes / 10,
      s"per-commit delta bytes ${deltaSizes.max} must be far below " +
        s"the checkpoint's $checkpointBytes")
    // the folded head equals the absolute state, depth counts the chain
    val snap = m.read().get
    assert(snap.entries.size == 5030 && snap.depth == 6)
    // time travel to a MID-chain delta folds its own prefix
    val midGen = genFiles().apply(3).getPath.getName
    assert(m.readGen(midGen).get.entries.size == 5015)
    // cadence rollover: drive the chain past CheckpointEvery — the
    // manifest folds it into a FRESH checkpoint on its own
    val firstCkpt = genFiles().head.getPath.getName
    def rollChain(): Unit = (0 until StoreManifest.CheckpointEvery)
      .foreach { k =>
        val add = StoreManifest.Entry(
          s"date=2024-01-17/part-${entries.size}.parquet", 1L,
          1700000200000L + k)
        entries = entries :+ add
        m.publish(Seq(add), Nil, Nil, Nil, fx, parent)
        parent = m.read().map(_.gen)
      }
    rollChain()
    def ckpts = genFiles().map(_.getPath.getName)
      .filter(_.endsWith(".list"))
    assert(ckpts.exists(_ > firstCkpt),
      s"the chain must have rolled into a NEW checkpoint: ${ckpts.toSeq}")
    // every generation is younger than RetainMs, so the superseded
    // chain is still history; once it has aged past RetainMs,
    // retention prunes it down to the newest KeepGens heads' chains
    assert(ckpts.contains(firstCkpt))
    m.clock = () => System.currentTimeMillis() + 2 * StoreManifest.RetainMs
    rollChain()
    assert(ckpts.nonEmpty && ckpts.forall(_ > firstCkpt),
      s"aged superseded chains must be pruned: ${ckpts.toSeq}")
    assert(m.read().get.depth < StoreManifest.CheckpointEvery)
    assert(m.read().get.entries.size ==
      5030 + 2 * StoreManifest.CheckpointEvery)
    // retention keeps every chain link the retained heads fold
    // through: all KeepGens heads must still read
    val names = m.genNames()
    names.takeRight(StoreManifest.KeepGens).foreach(n =>
      assert(m.readGen(n).isDefined, s"retained head $n must fold"))
    // TORN newest delta: the fold rejects it whole and falls back to
    // its parent's state — never half a patch
    m.publish(Seq(StoreManifest.Entry(
      "date=2024-01-18/part-x.parquet", 1L, 1700000300000L)),
      Nil, Nil, Nil, fx, m.read().map(_.gen))
    val newest = genFiles().last
    assert(newest.getPath.getName.endsWith(".delta"))
    val beforeTear = m.read().get.entries.size
    val out = fsys.create(newest.getPath, true)
    out.write("delta=3\nparent\tgen-x\n".getBytes("UTF-8")) // count lies
    out.close()
    val fallback = m.read().get
    assert(fallback.entries.size == beforeTear - 1,
      "a torn delta must fall back to the parent snapshot")
    assert(!fallback.gen.endsWith(newest.getPath.getName))
    // MISSING chain link: delete a delta mid-chain — heads folding
    // through it reject whole; the newest checkpoint-rooted prefix
    // that still folds serves
    val afterCkpt = m.genNames().filter(_.endsWith(".delta"))
    if (afterCkpt.nonEmpty) {
      m.deleteGen(afterCkpt.head)
      val served = m.read()
      assert(served.isDefined,
        "a checkpoint must still serve after a delta link vanishes")
      assert(served.get.depth == 0 ||
        m.readGen(served.get.gen).isDefined)
    }
  }

  test("vacuum's pooled delete reclaims a large ripe batch whole: " +
      "every tombstoned file gone, dead list pruned, table unchanged") {
    import graft.store.{StoreFs, StoreManifest}
    val root = newRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    store.writeStaged(Seq((1L, t0, 10L)).toDF("id", "start", "trace_id"))
    store.compact()
    val live = store.read(None, None).get.count()
    // fabricate a >64-file ripe batch (the pooled path) without paying
    // 100 Spark writes: raw junk files + a manifest generation that
    // tombstones them, exactly the state a big compaction leaves
    val fsys = StoreFs.fs(new org.apache.hadoop.fs.Path(s"$root/span"))
    val junk = (0 until 100).map { i =>
      val rel = f"_staging/junk-$i%03d.parquet"
      val o = fsys.create(
        new org.apache.hadoop.fs.Path(s"$root/span/$rel"), true)
      o.write(Array.fill(16)(i.toByte)); o.close()
      rel
    }
    // a second StoreManifest over the same dir publishes like any
    // other writer would; the store re-reads it at vacuum time
    val m = new StoreManifest(fsys, s"$root/span")
    val snap = m.read().get
    m.publish(Nil, Nil, junk.map(StoreManifest.Dead(_, 0L)), Nil,
      snap.schema, parent = Some(snap.gen))
    val (ripe, _, _) = store.vacuum(graceMs = 0L)
    assert(ripe >= 100, s"expected the junk batch ripe, got $ripe")
    junk.foreach(r => assert(!fsys.exists(
      new org.apache.hadoop.fs.Path(s"$root/span/$r")), s"$r survived"))
    assert(store.manifestDead.get.isEmpty)
    assert(store.read(None, None).get.count() == live)
  }

  test("CdcFeed: snapshot resync first, row-exact increments after, " +
      "cursor survives restarts, retention gap forces a flagged resync") {
    val root = newRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    val day = 86400L * 1000000L
    def batch(ids: Seq[Long], dayOff: Long) =
      ids.map(i => (i, t0 + dayOff * day + i * 60L * 1000000L, i * 10L))
        .toDF("id", "start", "trace_id")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").as[Long].collect().toSet
    def oids(d: Option[org.apache.spark.sql.DataFrame]): Set[Long] =
      d.map(ids).getOrElse(Set.empty)
    store.writeStaged(batch(Seq(1L, 2L, 3L), 0))
    store.compact()
    val feed = store.cdcFeed("spec-consumer", keyCols = Seq("id"))
    // first poll: the full snapshot, flagged resync
    val first = feed.poll().get
    assert(first.resync && oids(first.added) == Set(1L, 2L, 3L) &&
      first.removed.isEmpty)
    feed.commit(first.toGen)
    assert(feed.poll().isEmpty, "committed to newest = caught up")
    // a whole-table compact between generations: keyed increments are
    // row-exact — only the truly-new rows, despite every file moving
    store.writeStaged(batch(Seq(4L, 5L), 1))
    store.compact()
    val inc = feed.poll().get
    assert(!inc.resync && oids(inc.added) == Set(4L, 5L))
    assert(oids(inc.removed).isEmpty)
    // polling again before commit re-delivers (at-least-once)
    assert(oids(feed.poll().get.added) == Set(4L, 5L))
    feed.commit(inc.toGen)
    // the delete side: expire cuts day 0 — the increment carries the
    // invalidated keys and is NOT a resync
    store.expire(t0 + day): Unit
    val del = feed.poll().get
    assert(!del.resync && oids(del.added).isEmpty &&
      oids(del.removed) == Set(1L, 2L, 3L))
    feed.commit(del.toGen)
    // a NEW instance (restart) reads the same durable cursor
    assert(store.cdcFeed("spec-consumer", Seq("id")).poll().isEmpty)
    // independent consumers have independent cursors
    assert(store.cdcFeed("other", Seq("id")).poll().get.resync)
    // a NON-keyed feed sees the same delete-only commit as a plain
    // increment (file-granular removed side), never a spurious resync
    val plain = store.cdcFeed("plain")
    plain.commit(first.toGen)
    val pdel = plain.poll().get
    assert(!pdel.resync && oids(pdel.removed) == Set(1L, 2L, 3L),
      s"non-keyed delete-only increment: $pdel")
    // retention gap: churn enough commits that the cursor's
    // generation is pruned, then vacuum — poll must RESYNC, flagged,
    // with the full current table
    (0 until graft.store.StoreManifest.KeepGens + 1).foreach { _ =>
      store.compact() }
    store.vacuum(graceMs = 0L)
    val gap = feed.poll().get
    assert(gap.resync && oids(gap.added) == Set(4L, 5L))
    feed.commit(gap.toGen)
    assert(feed.poll().isEmpty)
    // delete-EVERYTHING reaches the consumer: expire past all days
    // publishes an empty-table generation, and the caught-up check
    // must not swallow it
    store.expire(t0 + 10L * day): Unit
    val purge = feed.poll().get
    assert(oids(purge.added).isEmpty &&
      (purge.resync || oids(purge.removed) == Set(4L, 5L)),
      s"a purge must deliver: $purge")
    feed.commit(purge.toGen)
    assert(feed.poll().isEmpty)
  }

  test("publishPatch writes O(delta) commits: folds agree with the " +
      "absolute form, rollover and outsized patches checkpoint, " +
      "stale parents are rejected") {
    import graft.store.{StoreFs, StoreManifest}
    val local = java.nio.file.Files.createTempDirectory("patchpub")
    val fsys = StoreFs.fs(new org.apache.hadoop.fs.Path(local.toString))
    val m = new StoreManifest(fsys, local.toString)
    val mdir = new org.apache.hadoop.fs.Path(local.toString, "_manifest")
    def newest() = fsys.listStatus(mdir)
      .filter(_.getPath.getName.startsWith("gen-"))
      .maxBy(_.getPath.getName).getPath.getName
    val base = (0 until 1000).map(i => StoreManifest.Entry(
      f"date=2024-01-15/part-$i%04d.parquet", 100L + i, 1L))
    m.publish(base, Nil, Nil, Nil, fx, None)
    // a small patch lands as a delta and folds exactly
    m.publish(
      adds = Seq(StoreManifest.Entry("date=2024-01-16/a.parquet", 1L, 2L)),
      drops = Seq(base.head.rel),
      deadPlus = Seq(StoreManifest.Dead(base.head.rel, 5L)),
      deadMinus = Nil, schema = fx, parent = m.read().map(_.gen),
      info = Some("""{"op":"spec"}"""))
    assert(newest().endsWith(".delta"))
    val snap = m.read().get
    assert(snap.entries.size == 1000 &&
      snap.entries.exists(_.rel == "date=2024-01-16/a.parquet") &&
      !snap.entries.exists(_.rel == base.head.rel) &&
      snap.dead.map(_.rel) == Seq(base.head.rel) &&
      snap.info.contains("""{"op":"spec"}"""))
    // tombstone reclaim (vacuum's shape) is a delta too
    m.publish(Nil, Nil, Nil, deadMinus = Seq(base.head.rel),
      schema = fx, parent = Some(snap.gen))
    assert(newest().endsWith(".delta") && m.read().get.dead.isEmpty)
    // a patch that rivals the table's size rolls a checkpoint instead
    m.publish(Nil, drops = base.drop(1).map(_.rel),
      deadPlus = Nil, deadMinus = Nil, schema = fx,
      parent = m.read().map(_.gen))
    assert(newest().endsWith(".list"),
      "an outsized patch must write a checkpoint")
    assert(m.read().get.entries.map(_.rel) ==
      Seq("date=2024-01-16/a.parquet"))
    // cadence rollover: CheckpointEvery patches on, a fresh checkpoint
    var parent = m.read().get.gen
    (0 until StoreManifest.CheckpointEvery + 1).foreach { k =>
      m.publish(Seq(StoreManifest.Entry(s"date=2024-01-17/p$k.parquet",
        1L, 1L)), Nil, Nil, Nil, fx, Some(parent))
      parent = m.read().get.gen
    }
    assert(m.genNames().count(_.endsWith(".list")) >= 2 ||
      m.read().get.depth < StoreManifest.CheckpointEvery)
    assert(m.read().get.entries.size ==
      1 + StoreManifest.CheckpointEvery + 1)
    // a stale parent is rejected whole, nothing lands
    val before = m.genNames()
    intercept[StoreManifest.ConcurrentCommitException] {
      m.publish(Nil, Nil, Nil, Nil, fx, before.headOption)
    }
    assert(m.genNames() == before)
  }

  test("each generation records its operation: compact/expire/vacuum " +
      "audit lines survive the fold; pre-audit generations read as None") {
    import graft.store.{StoreFs, StoreManifest}
    val root = newRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    val day = 86400L * 1000000L
    store.writeStaged((1L to 8L).map(i =>
        (i, t0 + (i % 4) * day + i * 60L * 1000000L, i))
      .toDF("id", "start", "trace_id"))
    store.compact(granularity = "day")
    def newestInfo() = store.generationInfo(store.generations().last)
    assert(newestInfo().exists(i =>
      i.contains(""""op":"compact"""") &&
        i.contains(""""granularity":"day"""")), s"got ${newestInfo()}")
    store.expire(t0 + 2L * day): Unit
    assert(newestInfo().exists(i => i.contains(""""op":"expire"""") &&
      i.contains("\"retired\":")), s"got ${newestInfo()}")
    store.vacuum(graceMs = 0L)
    assert(newestInfo().exists(_.contains(""""op":"vacuum"""")),
      s"got ${newestInfo()}")
    // every retained generation still folds, each with its OWN info
    // (the audit is per-commit, not inherited through the chain)
    val fsys = StoreFs.fs(new org.apache.hadoop.fs.Path(s"$root/span"))
    val m = new StoreManifest(fsys, s"$root/span")
    store.generations().foreach(g => assert(m.readGen(g).isDefined))
    // a pre-audit generation (no info line — the old on-disk form, or
    // any third-party publisher that omits it) reads as None
    val snap = m.read().get
    val feed = store.cdcFeed("audit-consumer", keyCols = Seq("id"))
    feed.commit(snap.gen)
    m.publish(Nil, Nil, Nil, Nil, snap.schema, Some(snap.gen))
    assert(store.generationInfo(store.generations().last).isEmpty)
    // that republish changed no entry: a caught-up consumer receives
    // it as a plain zero-row increment, not a resync
    val inc = feed.poll().get
    assert(!inc.resync, "a commit that moves no row must not resync")
    assert(inc.added.forall(_.isEmpty) && inc.removed.forall(_.isEmpty),
      "no entry changed, so both sides must be empty")
    feed.commit(inc.toGen)
    assert(feed.poll().isEmpty)
  }

  test("checkpoint bodies are gzip on disk, read back exactly; plain " +
      "checkpoints still read; truncated gzip falls back whole") {
    import graft.store.{StoreFs, StoreManifest}
    val local = java.nio.file.Files.createTempDirectory("gzckpt")
    val fsys = StoreFs.fs(new org.apache.hadoop.fs.Path(local.toString))
    val m = new StoreManifest(fsys, local.toString)
    val mdir = new org.apache.hadoop.fs.Path(local.toString, "_manifest")
    val entries = (0 until 2000).map(i => StoreManifest.Entry(
      f"date=2024-01-15/hour=${i / 100}%02d/part-$i%05d.parquet",
      1000L + i, 1700000000000L + i))
    m.publish(entries, Nil, Nil, Nil, fx, parent = None)
    val ckpt = fsys.listStatus(mdir)
      .filter(_.getPath.getName.endsWith(".list")).maxBy(_.getPath.getName)
    // on-disk form: gzip magic, and far below the plain body's size
    val in = fsys.open(ckpt.getPath)
    val head = new Array[Byte](2)
    in.readFully(head); in.close()
    assert((head(0) & 0xff) == 0x1f && (head(1) & 0xff) == 0x8b,
      "checkpoint body must be gzip on disk")
    val plainSize = entries.map(e =>
      s"${e.rel}\t${e.size}\t${e.mtime}\n".length.toLong).sum
    assert(ckpt.getLen < plainSize / 5,
      s"gzip checkpoint ${ckpt.getLen} B should be well below the " +
        s"plain body's ~$plainSize B")
    assert(m.read().get.entries == entries.sortBy(_.rel))
    // the same checkpoint body written PLAIN beside it must read too:
    // sniff, don't assume
    val older = new org.apache.hadoop.fs.Path(mdir,
      "gen-0000000000000000001-plain.list")
    val plainBody = {
      val gz = new java.util.zip.GZIPInputStream(fsys.open(ckpt.getPath))
      try gz.readAllBytes() finally gz.close()
    }
    val o = fsys.create(older, true)
    o.write(plainBody); o.close()
    assert(m.readGen(older.getName).exists(
      _.entries == entries.sortBy(_.rel)))
    // TRUNCATED gzip (torn write): the missing CRC trailer rejects the
    // generation whole and reads fall back to the older one
    val full = {
      val s = fsys.open(ckpt.getPath)
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = s.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = s.read(chunk) }
      s.close(); buf.toByteArray
    }
    val torn = fsys.create(ckpt.getPath, true)
    torn.write(full, 0, full.length / 2); torn.close()
    val served = m.read()
    assert(served.isDefined && served.get.gen == older.getName,
      "a torn gzip checkpoint must fall back to the previous generation")
  }

  test("store-level delta commits: expire and compactDate publish " +
      "deltas, reads and time travel agree, vacuum keeps the chain") {
    val root = newRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    val day = 86400L * 1000000L
    def batch(ids: Seq[Long], dayOff: Long) =
      ids.map(i => (i, t0 + dayOff * day + i * 60L * 1000000L, i * 10L))
        .toDF("id", "start", "trace_id")
    // proportions matter: deltas land only when the patch is smaller
    // than the table (a mutation rewriting MOST files rightly
    // re-checkpoints), so the bulk (day 3) dwarfs the mutated dates
    store.writeStaged(
      batch(Seq(1L, 2L), 0L) // day 1: expire target
        .union(batch(Seq(31L, 32L, 33L), 1L)) // day 2: heal target
        .union(batch((61L to 80L).toSeq, 2L)) // day 3: bulk
        .coalesce(1))
    store.compact() // checkpoint: 25 minute files
    val mdir = new org.apache.hadoop.fs.Path(s"$root/span/_manifest")
    val fsys = graft.store.StoreFs.fs(mdir)
    def exts() = fsys.listStatus(mdir)
      .filter(_.getPath.getName.startsWith("gen-"))
      .map(_.getPath.getName.split('.').last).toSeq.sorted
    assert(exts() == Seq("list", "list")) // the staged landing, the drain
    // an append, a date-scoped heal and a retention drop are all DELTAS
    store.write(batch(Seq(34L), 1L)) // append into day 2
    val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone"))
    val day2 = java.time.LocalDate.ofInstant(java.time.Instant
      .ofEpochSecond((t0 + day) / 1000000L), zone).toString
    store.compactDate(day2)
    store.expire(t0 + day) // drops day 1
    assert(exts() == Seq("delta", "delta", "delta", "list", "list"),
      exts().toString)
    val liveIds = Set(31L, 32L, 33L, 34L) ++ (61L to 80L)
    assert(store.read(None, None).get.select("id").as[Long]
      .collect().toSet == liveIds)
    // time travel across the chain: the checkpoints still answer the
    // pre-append table, the heal's delta the pre-expiry+heal one
    val gens = store.generations()
    assert(store.readGeneration(gens(1)).get.count() == 25)
    assert(store.readGeneration(gens(3)).get.select("id").as[Long]
      .collect().toSet == (liveIds ++ Set(1L, 2L)))
    // vacuum within grace: chain intact, everything still readable
    store.vacuum(graceMs = 7L * 86400L * 1000L): Unit
    assert(store.generations().size == 5)
    assert(store.read(None, None).get.count() == liveIds.size)
    // vacuum past grace: generation files the newest head's CHAIN
    // folds through (its checkpoint root included) survive even when
    // out-of-grace — the table never goes unreadable out from under
    // the delta head — while ripe tombstoned DATA files reclaim
    store.vacuum(graceMs = 0L): Unit
    val after = store.generations()
    assert(after.contains(gens.last), "newest head must survive")
    assert(store.read(None, None).get.select("id").as[Long]
      .collect().toSet == liveIds)
  }

  test("cross-process two-writer contention: a second engine PROCESS " +
      "claims the store, the first is fenced loudly at its next " +
      "mutation, the child's commits land, and no committed row is " +
      "lost") {
    import scala.jdk.CollectionConverters._
    val local = java.nio.file.Files.createTempDirectory("contend").toString
    val store = new ParquetStore(spark, local, "span", "start")
    store.writeStaged(Seq((1L, t0, 10L), (2L, t0 + 60000000L, 20L),
      (3L, t0 + 120000000L, 30L)).toDF("id", "start", "trace_id"))
    store.compact() // the parent claims the writer lease
    assert(store.read(None, None).get.count() == 3)
    val out = java.nio.file.Files.createTempFile("contend_", ".json")
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-cp",
      System.getProperty("java.class.path"), "graft.ContendProbe",
      local, "3", out.toString)
    val pb = new ProcessBuilder(cmd.asJava)
    pb.redirectErrorStream(true)
    pb.redirectOutput(java.nio.file.Files
      .createTempFile("contend_", ".log").toFile)
    val proc = pb.start()
    try {
      // wait until the child has CLAIMED the store: its lease epoch
      // outranks the parent's in the real shared filesystem — the
      // interleaving the in-JVM seam specs cannot produce
      val lockDir = new org.apache.hadoop.fs.Path(s"$local/span/_lock")
      val fsys = graft.store.StoreFs.fs(lockDir)
      def topLease() = graft.store.StoreFs.list(fsys, lockDir)
        .map(_.getPath.getName).filter(_.startsWith("lease-")).max
      val mine = topLease()
      val deadline = System.currentTimeMillis() + 180000L
      while (topLease() == mine &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(200L)
      assert(topLease() != mine, "the child never claimed the store")
      // the superseded parent fails LOUDLY at its next mutation —
      // never a silent interleaving
      intercept[ParquetStore.WriterFencedException] { store.compact() }
      // …but its READS stay green across the child's concurrent
      // rewrites (snapshot isolation holds across processes)
      assert(store.read(None, None).get.count() == 3)
      assert(proc.waitFor(4, java.util.concurrent.TimeUnit.MINUTES),
        "the child process timed out")
    } finally { if (proc.isAlive) proc.destroyForcibly(): Unit }
    val report = java.nio.file.Files.readString(out)
    assert(report.contains("\"ok\":") && !report.startsWith("""{"ok":0"""),
      s"the child must have committed cross-process: $report")
    // post-contention: the store is whole — a fresh reader answers
    // every committed row and every retained generation still folds
    val after = new ParquetStore(spark, local, "span", "start")
    assert(after.read(None, None).get.select("id").as[Long]
      .collect().toSet == Set(1L, 2L, 3L))
    assert(after.manifestPresent)
    after.generations().foreach(g =>
      assert(after.generationReadable(g), s"$g must fold whole"))
  }

  test("stepped CDC: poll(maxGenerations=1) replays the commit history " +
      "one generation at a time, each attributed to its operation; the " +
      "stepped union equals the single jump") {
    val root = newRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    val day = 86400L * 1000000L
    def batch(ids: Seq[Long], dayOff: Long) =
      ids.map(i => (i, t0 + dayOff * day + i * 60L * 1000000L, i * 10L))
        .toDF("id", "start", "trace_id")
    def oids(d: Option[org.apache.spark.sql.DataFrame]): Set[Long] =
      d.map(_.select("id").as[Long].collect().toSet).getOrElse(Set.empty)
    val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone"))
    def dayStr(off: Long): String = java.time.LocalDate.ofInstant(
      java.time.Instant.ofEpochSecond((t0 + off * day) / 1000000L),
      zone).toString
    // bulky base: the appends below must land as DELTAS
    // (proportions drive the commit-form heuristic), which also keeps
    // gen A alive in the retained heads' chains
    store.write(batch((1L to 10L).toSeq, 0L))
    val genA = store.generations().last
    // three commits behind: one append per day, each a distinct
    // auditable operation
    Seq((Seq(24L, 25L), 1L), (Seq(26L, 27L), 2L), (Seq(28L, 29L), 3L))
      .foreach { case (ids, off) =>
        store.write(batch(ids, off),
          Some(s"""{"op":"append","date":"${dayStr(off)}"}"""))
      }
    assert(store.generations().size == 4,
      s"gens: ${store.generations()}")
    val jumper = store.cdcFeed("jumper", keyCols = Seq("id"))
    jumper.commit(genA)
    val jump = jumper.poll().get
    val jumpIds = oids(jump.added)
    assert(jumpIds == Set(24L, 25L, 26L, 27L, 28L, 29L))
    // the stepped replay: exactly three bounded increments, in commit
    // order, none a resync, each carrying ITS generation's info line
    val feed = store.cdcFeed("stepper", keyCols = Seq("id"))
    feed.commit(genA)
    val steps = Iterator
      .continually(feed.poll(maxGenerations = 1))
      .takeWhile(_.isDefined).map(_.get)
      .map { inc => feed.commit(inc.toGen); inc }
      .toSeq
    assert(steps.size == 3, s"expected 3 stepped increments: $steps")
    assert(steps.map(i => oids(i.added)) ==
      Seq(Set(24L, 25L), Set(26L, 27L), Set(28L, 29L)))
    assert(steps.forall(i => !i.resync && oids(i.removed).isEmpty))
    assert(steps.flatMap(i => oids(i.added)).toSet == jumpIds,
      "the stepped union must equal the single-jump increment")
    steps.zip(Seq(1L, 2L, 3L)).foreach { case (inc, off) =>
      assert(inc.info.exists(s => s.contains(""""op":"append"""") &&
        s.contains(dayStr(off))),
        s"step to ${inc.toGen} must name its operation, got ${inc.info}")
    }
    assert(feed.poll(maxGenerations = 1).isEmpty, "stepped to newest")
    jumper.reset(); feed.reset()
  }

  test("consumeInto is exactly-once into a sink store: crash between " +
      "land and cursor-advance heals forward, crash before land " +
      "replays, never a duplicate row") {
    val root = newRoot()
    val src = new ParquetStore(spark, root, "src", "start")
    val sink = new ParquetStore(spark, root, "sink", "start")
    val day = 86400L * 1000000L
    def batch(ids: Seq[Long], dayOff: Long) =
      ids.map(i => (i, t0 + dayOff * day + i * 60L * 1000000L, i * 10L))
        .toDF("id", "start", "trace_id")
    def sinkIds(): Seq[Long] = sink.read(None, None)
      .map(_.select("id").as[Long].collect().toSeq.sorted)
      .getOrElse(Nil)
    src.writeStaged(batch(Seq(1L, 2L, 3L), 0L))
    src.compact()
    val feed = src.cdcFeed("mover", keyCols = Seq("id"))
    // bootstrap: the first consumption lands the snapshot
    assert(feed.consumeInto(sink).isDefined)
    assert(sinkIds() == Seq(1L, 2L, 3L))
    assert(feed.consumeInto(sink).isEmpty, "caught up")
    assert(sinkIds() == Seq(1L, 2L, 3L), "a caught-up run lands nothing")
    // CRASH WINDOW A — landed but cursor not advanced: simulate by
    // landing the polled increment with the consumer's exact info
    // line and NOT committing. The next run must heal the cursor
    // forward from the sink's generation audit without re-landing.
    src.writeStaged(batch(Seq(4L, 5L), 1L))
    src.compact()
    val inc = feed.poll().get
    sink.write(inc.added.get,
      Some(s"""{"op":"cdcConsume","consumer":"mover",""" +
        s""""toGen":"${inc.toGen}"}"""))
    assert(feed.consumeInto(sink).isEmpty,
      "healed forward: the landed increment must not re-consume")
    assert(sinkIds() == Seq(1L, 2L, 3L, 4L, 5L),
      "exactly one copy after the land/advance crash")
    assert(feed.poll().isEmpty, "cursor healed to the landed toGen")
    // CRASH WINDOW B — polled but nothing landed: the re-run
    // re-delivers and lands exactly once
    src.writeStaged(batch(Seq(6L), 2L))
    src.compact()
    feed.poll(): Unit // "crash" after delivery, before any landing
    assert(feed.consumeInto(sink).isDefined)
    assert(sinkIds() == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // uniform committed appends keep the sink's recorded schema exact
    // — a pure-CDC sink plans from the manifest, no footer inference
    assert(sink.manifestSchema.isDefined,
      "uniform committed appends must preserve the schema")
    // transform applies on the landing path
    src.writeStaged(batch(Seq(7L), 3L))
    src.compact()
    assert(feed.consumeInto(sink,
      df => df.withColumn("id", col("id") + 100L)).isDefined)
    assert(sinkIds() == Seq(1L, 2L, 3L, 4L, 5L, 6L, 107L))
    // a mid-life resync (retention outran the cursor) must REFUSE to
    // append — silent doubling is worse than a loud stop
    (0 until graft.store.StoreManifest.KeepGens + 1)
      .foreach(_ => src.compact())
    src.vacuum(graceMs = 0L): Unit
    intercept[IllegalStateException] { feed.consumeInto(sink) }
    assert(sinkIds() == Seq(1L, 2L, 3L, 4L, 5L, 6L, 107L),
      "the refused resync landed nothing")
    feed.reset()
  }

  test("two-level folds equal a reference model under a mixed mutation " +
      "sequence: accumulating appends, bare re-adds, partition " +
      "rewrites, absolute republish, rollover merges and retention all " +
      "agree") {
    import graft.store.{StoreFs, StoreManifest}
    val local = java.nio.file.Files.createTempDirectory("mixedseq")
    val fsys = StoreFs.fs(new org.apache.hadoop.fs.Path(local.toString))
    val m = new StoreManifest(fsys, local.toString)
    val rnd = new scala.util.Random(42)
    val dates = (15 to 19).map(d => s"date=2024-01-$d")
    val model = scala.collection.mutable.LinkedHashMap.empty[
      String, StoreManifest.Entry]
    var fileNo = 0
    def mk(part: String): StoreManifest.Entry = {
      fileNo += 1
      StoreManifest.Entry(
        f"$part/hour=${fileNo % 3}%02d/part-$fileNo%05d.parquet",
        100L + fileNo, 1700000000000L + fileNo)
    }
    val init = dates.flatMap(p => (0 until 5).map(_ => mk(p)))
    init.foreach(e => model(e.rel) = e)
    m.publish(init, Nil, Nil, Nil, fx, parent = None)
    val dead = scala.collection.mutable.Set.empty[String]
    (0 until 30).foreach { i =>
      val parent = m.read().get.gen
      if (i % 7 == 6) {
        // whole-table rewrite (compact's shape): every live rel
        // dropped and tombstoned, fresh ones added in their dates,
        // over whatever mf accumulation exists
        val drops = model.keys.toSeq
        val fresh = model.keys.toSeq.map(r => mk(r.takeWhile(_ != '/')))
        model.clear()
        fresh.foreach(e => model(e.rel) = e)
        dead ++= drops
        m.publish(fresh, drops, drops.map(StoreManifest.Dead(_, i.toLong)),
          Nil, fx, Some(parent))
      } else if (i % 3 == 2 && model.nonEmpty) {
        // partition rewrite: drop 1-2 random rels, add one — the
        // mdel + madd arm, plus newest-wins dedupe
        val victims = rnd.shuffle(model.keys.toSeq)
          .take(1 + rnd.nextInt(2))
        val add = mk(dates(rnd.nextInt(dates.size)))
        victims.foreach(model.remove(_): Unit)
        model(add.rel) = add
        m.publish(adds = Seq(add), drops = victims,
          deadPlus = Nil, deadMinus = Nil, schema = fx,
          parent = Some(parent))
      } else {
        // accumulating append: 1-3 files into 1-2 partitions; every
        // fourth commit also re-adds a live rel with a new size and no
        // drop, so the stale copy stays in an older manifest of its
        // date — assembly, the next rewrite of that date and the
        // rollover merge must all resolve it newest-manifest-wins
        val readd = if (i % 4 == 3) {
          val old = model.values.toSeq(rnd.nextInt(model.size))
          Seq(old.copy(size = old.size + 1000L))
        } else Nil
        val adds = (0 until 1 + rnd.nextInt(3))
          .map(_ => mk(dates(rnd.nextInt(dates.size)))) ++ readd
        adds.foreach(e => model(e.rel) = e)
        m.publish(adds = adds, drops = Nil, deadPlus = Nil,
          deadMinus = Nil, schema = fx, parent = Some(parent))
      }
      // the fold must equal the model after EVERY commit — across
      // delta accumulation, rollover checkpoints (CheckpointEvery
      // boundaries land inside these 30 commits), mf reuse and
      // retention pruning
      val snap = m.read().get
      assert(snap.entries == model.values.toSeq.sortBy(_.rel),
        s"fold diverged from the model at commit $i (${snap.gen})")
      assert(snap.deadRels == dead, s"tombstones diverged at commit $i")
      // and a window over one partition equals the model's slice
      val d = dates(i % dates.size)
      val win = m.readStateFor(pk => pk.isEmpty || pk == d)
      assert(win.get.entries ==
        model.values.toSeq.filter(_.rel.startsWith(d + "/"))
          .sortBy(_.rel),
        s"window $d diverged at commit $i")
    }
    // every retained generation still folds whole at the end
    m.genNames().foreach(g => assert(m.readGen(g).isDefined,
      s"retained $g must fold"))
  }

  test("an unknown protocol capability rejects the generation whole: " +
      "a future format's generation and an older build's hot-date " +
      "split generation both fall back to the previous generation " +
      "(stale, not wrong reads) and stand vacuum down, non-reclaimable") {
    import graft.store.{StoreFs, StoreManifest}
    val root = newRoot()
    val fsys = StoreFs.fs(new org.apache.hadoop.fs.Path(root))
    val m = new StoreManifest(fsys, s"$root/span")
    def e(rel: String) = StoreManifest.Entry(rel, 1L, 1L)
    m.publish(Seq(e("date=2024-01-15/a.parquet")), Nil, Nil, Nil, fx,
      parent = None)
    m.publish(adds = Seq(e("date=2024-01-15/b.parquet")),
      drops = Nil, deadPlus = Nil, deadMinus = Nil, schema = fx,
      parent = m.read().map(_.gen))
    val gen2 = m.read().get.gen
    assert(gen2.endsWith(".delta"))
    val p = new org.apache.hadoop.fs.Path(s"$root/span/_manifest/$gen2")
    val in = fsys.open(p)
    val body = try new String(in.readAllBytes(), "UTF-8")
    finally in.close()
    // the first stands for a format this binary has never seen; the
    // second is what builds at or before commit 2b2ecd7 wrote for a
    // date of 10⁵ manifest entries — the protocol line goes after the
    // parent/schema/info headers, where writers put it
    for (cap <- Seq("from-the-future", "hour-split")) {
      val lines = body.split("\n", -1).toBuffer
      lines(0) = s"delta=${lines.head.stripPrefix("delta=").toInt + 1}"
      lines.insert(lines.indexWhere(l => !Seq("delta=", "parent\t",
        "schema\t", "info\t").exists(l.startsWith)), s"protocol\t$cap")
      val o = fsys.create(p, true)
      o.write(lines.mkString("\n").getBytes("UTF-8")); o.close()
      val m2 = new StoreManifest(fsys, s"$root/span")
      assert(m2.read().get.entries.map(_.rel) ==
        Seq("date=2024-01-15/a.parquet"),
        s"capability $cap must reject the generation whole and fall " +
          "back to the previous one")
      val standDowns =
        new ParquetStore(spark, root, "span", "start").vacuumStandDowns()
      assert(standDowns.exists { case (n, reason, reclaimable) =>
          n == gen2 && reason.contains(cap) && !reclaimable },
        s"capability $cap must stand vacuum down, non-reclaimable: " +
          s"$standDowns")
    }
  }

  test("vacuum stands down when a FUTURE-format generation is present: " +
      "no sweep deletes what this binary cannot vouch for; torn " +
      "known-form debris does not trip the gate") {
    import graft.store.StoreFs
    val root = newRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    def batch(ids: Seq[Long]) =
      ids.map(i => (i, t0 + i * 60L * 1000000L, i * 10L))
        .toDF("id", "start", "trace_id")
    store.write(batch(1L to 4L))
    store.compact() // tombstones the legacy files
    assert(store.manifestDead.exists(_.nonEmpty))
    val fsys = StoreFs.fs(new org.apache.hadoop.fs.Path(root))
    val mdir = new org.apache.hadoop.fs.Path(s"$root/span/_manifest")
    def mfCount(): Int = StoreFs.list(fsys,
      new org.apache.hadoop.fs.Path(mdir, "mf")).size
    val mfsBefore = mfCount()
    // plant a future binary's commit: valid gen- name, body form this
    // binary does not know (old-sorting name so reads are unaffected)
    val future = new org.apache.hadoop.fs.Path(mdir,
      f"gen-${0L}%019d-future.v9")
    val o = fsys.create(future, true)
    o.write("v9=1\nsomething-new\n".getBytes("UTF-8")); o.close()
    // grace 0: everything is ripe/out-of-grace — maximal deletion
    // pressure, exactly when the gate matters
    val (ripe1, orphans1, pruned1) = store.vacuum(0)
    assert(orphans1 == 0 && pruned1 == 0,
      "destructive sweeps must stand down under a future generation")
    assert(mfCount() == mfsBefore, "manifest files must survive")
    assert(store.manifestDead.exists(_.nonEmpty),
      "the dead-list republish must be skipped too (its CAS would " +
        "only fail against the future head)")
    assert(ripe1 >= 0 && store.read(None, None).get.count() == 4)
    // the future generation gone (the newer binary's cleanup), the
    // same vacuum proceeds: dead list pruned, sweeps run
    fsys.delete(future, false): Unit
    store.vacuum(0): Unit
    assert(store.manifestDead.exists(_.isEmpty),
      "with the gate clear the republish must prune the dead list")
    // a TORN known-form generation (crash debris) must NOT trip the
    // gate — and being unneeded and out-of-grace, it gets pruned
    val torn = new org.apache.hadoop.fs.Path(mdir,
      f"gen-${1L}%019d-torn.delta")
    val o2 = fsys.create(torn, true)
    o2.write("delta=3\nparent\tgen-nope\n".getBytes("UTF-8")); o2.close()
    val (_, _, pruned3) = store.vacuum(0)
    assert(pruned3 >= 1 && !fsys.exists(torn),
      "torn known-form debris stays prunable")
    assert(store.read(None, None).get.count() == 4)
  }

  test("a transiently unreadable partition manifest is NOT cached as " +
      "failure: windowed reads outside it still serve, and the same " +
      "planner instance heals the moment the bytes are back") {
    import graft.store.{StoreFs, StoreManifest}
    val local = java.nio.file.Files.createTempDirectory("mfheal")
    val fsys = StoreFs.fs(new org.apache.hadoop.fs.Path(local.toString))
    val m = new StoreManifest(fsys, local.toString)
    def e(rel: String) = StoreManifest.Entry(rel, 1L, 1L)
    m.publish(Seq(e("date=2024-01-15/a.parquet"),
      e("date=2024-01-16/b.parquet")), Nil, Nil, Nil, fx, parent = None)
    assert(m.read().get.entries.size == 2)
    // locate day-16's manifest and tear it IN PLACE (half the bytes:
    // the ref-recorded length check rejects it)
    val mfDir = new org.apache.hadoop.fs.Path(local.toString,
      "_manifest/mf")
    val mfs = fsys.listStatus(mfDir).map(_.getPath)
    val torn = mfs.find { p =>
      val in = fsys.open(p)
      val body = try new String(in.readAllBytes(), "UTF-8")
      finally in.close()
      body.contains("2024-01-16")
    }.get
    val in0 = fsys.open(torn)
    val original = try in0.readAllBytes() finally in0.close()
    val o = fsys.create(torn, true)
    o.write(original, 0, original.length / 2); o.close()
    // a COLD planner (fresh instance = new process; the instance
    // above holds the pre-tear snapshot under its head-keyed memo,
    // which in-place corruption of an mf deliberately cannot
    // invalidate — manifest files are immutable in the protocol):
    // full assembly rejects the generation whole (no older one
    // exists → listing mode), but a window that does not ADMIT the
    // torn partition still answers — pruning is also availability
    val m2 = new StoreManifest(fsys, local.toString)
    assert(m2.read().isEmpty, "full read must reject the torn head")
    val pruned = m2.readStateFor(pk =>
      pk.isEmpty || pk == "date=2024-01-15")
    assert(pruned.exists(_.entries.map(_.rel) ==
      Seq("date=2024-01-15/a.parquet")),
      "the un-torn partition's window must keep serving")
    // restore the exact bytes: the SAME (m2) instance must read them
    // — a cached failure here would require a process restart to heal
    val o2 = fsys.create(torn, true)
    o2.write(original); o2.close()
    assert(m2.read().exists(_.entries.size == 2),
      "the planner must re-attempt the manifest once it is back")
  }

  test("stepped CDC widens past a TORN intermediate generation to " +
      "newest instead of mis-reading it as retention loss") {
    val root = newRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    val day = 86400L * 1000000L
    def batch(ids: Seq[Long], dayOff: Long) =
      ids.map(i => (i, t0 + dayOff * day + i * 60L * 1000000L, i * 10L))
        .toDF("id", "start", "trace_id")
    def oids(d: Option[org.apache.spark.sql.DataFrame]): Set[Long] =
      d.map(_.select("id").as[Long].collect().toSet).getOrElse(Set.empty)
    val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone"))
    def dayStr(off: Long): String = java.time.LocalDate.ofInstant(
      java.time.Instant.ofEpochSecond((t0 + off * day) / 1000000L),
      zone).toString
    store.write(batch((1L to 10L).toSeq, 0L)) // gen A
    store.write(batch(Seq(24L, 25L), 1L)) // gen B: the delta to tear
    store.writeStaged(batch(Seq(26L, 27L), 2L)) // a delta over B
    store.compact() // gen C: a CHECKPOINT (folds without B)
    val gens = store.generations()
    assert(gens.size == 4)
    // tear B's generation FILE in place
    val fsys = graft.store.StoreFs.fs(
      new org.apache.hadoop.fs.Path(s"$root/span"))
    val bPath = new org.apache.hadoop.fs.Path(
      s"$root/span/_manifest/${gens(1)}")
    val o = fsys.create(bPath, true)
    o.write("delta=9\nparent\tgen-x\n".getBytes("UTF-8")); o.close()
    assert(!store.generationReadable(gens(1)))
    assert(store.generationReadable(gens.last), "C must fold without B")
    val feed = store.cdcFeed("widener", keyCols = Seq("id"))
    feed.commit(gens.head)
    // the bounded step lands on torn B → widened to newest C, a PLAIN
    // increment (the cursor is intact; resync would be wrong and
    // consumeInto would hard-fail on it)
    val inc = feed.poll(maxGenerations = 1).get
    assert(!inc.resync, "a torn intermediate must not read as a resync")
    assert(inc.toGen == gens.last)
    assert(oids(inc.added) == Set(24L, 25L, 26L, 27L))
    feed.reset()
  }

  test("keyed CDC under schema drift: a column appearing between " +
      "generations surfaces in the increment; the key anti-join " +
      "conforms across the drifted sides") {
    val root = newRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    val day = 86400L * 1000000L
    store.writeStaged(Seq((1L, t0, 10L), (2L, t0 + 60L * 1000000L, 20L))
      .toDF("id", "start", "trace_id"))
    store.compact() // gen A: no `env` column anywhere
    val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone"))
    val day2 = java.time.LocalDate.ofInstant(java.time.Instant
      .ofEpochSecond((t0 + day) / 1000000L), zone).toString
    // day-2 rows carry a NEW column — the dynamic-log-schema shape
    // (g06) hitting the CDC surfaces
    store.write(Seq((3L, t0 + day + 60L * 1000000L, 30L, "prod"),
        (4L, t0 + day + 120L * 1000000L, 40L, "dev"))
      .toDF("id", "start", "trace_id", "env"))
    store.compactDate(day2) // gen B: adds only day-2 files (with env)
    val gens = store.generations()
    val added = store.changesBetween(gens.head, gens.last, Seq("id")).get
    assert(added.columns.contains("env"),
      s"the drifted column must surface in added: ${added.columns.toSeq}")
    assert(added.select("id").as[Long].collect().toSet == Set(3L, 4L))
    assert(added.select("env").as[String].collect().toSet ==
      Set("prod", "dev"))
    // the delete side across the drift conforms too (empty but typed)
    val removed = store.removedBetween(gens.head, gens.last, Seq("id")).get
    assert(removed.count() == 0L)
    // and the keyed feed end-to-end: a consumer cursored at A gets
    // the drifted rows as a plain increment
    val feed = store.cdcFeed("drift", keyCols = Seq("id"))
    feed.commit(gens.head)
    val inc = feed.poll().get
    assert(!inc.resync &&
      inc.added.exists(_.columns.contains("env")) &&
      inc.added.get.select("id").as[Long].collect().toSet == Set(3L, 4L))
    feed.reset()
  }

  test("mirror consumeInto applies removals transactionally: a " +
      "stepped mirror across a compactDate AND an expire equals the " +
      "source net state at every step; crash at every step replays " +
      "or heals; a mid-life resync truncate-and-reloads") {
    val root = newRoot()
    val src = new ParquetStore(spark, root, "src", "start")
    val sink = new ParquetStore(spark, root, "sink", "start")
    val day = 86400L * 1000000L
    def batch(ids: Seq[Long], dayOff: Long) =
      ids.map(i => (i, t0 + dayOff * day + i * 60L * 1000000L, i * 10L))
        .toDF("id", "start", "trace_id")
    def ids(st: ParquetStore): Set[Long] = st.read(None, None)
      .map(_.select("id").as[Long].collect().toSet).getOrElse(Set.empty)
    def genIds(st: ParquetStore, g: String): Set[Long] =
      st.readGeneration(g).map(_.select("id").as[Long].collect().toSet)
        .getOrElse(Set.empty)
    // lineage: A = {1,2,3} (day 1); W = A + {4,5} (day-2 append);
    // B = its compactDate fold; C = expire day 1 → {4,5} (the
    // mid-history REMOVAL the append-only consumer retains and a
    // mirror must net out). Step 1 spans W and B.
    src.write(batch(Seq(1L, 2L, 3L), 0L)) // gen A
    src.write(batch(Seq(4L, 5L), 1L)) // gen W
    val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone"))
    val day2 = java.time.LocalDate.ofInstant(java.time.Instant
      .ofEpochSecond((t0 + day) / 1000000L), zone).toString
    src.compactDate(day2) // gen B
    src.expire(t0 + day): Unit // gen C: day-1 rows removed
    val gens = src.generations()
    assert(gens.size == 4)
    val feed = src.cdcFeed("mirror", keyCols = Seq("id"))
    // rebootstrap procedure: sink reloaded at the rewind point
    // transactionally, cursor committed there
    sink.replaceCommitted(src.readGeneration(gens.head),
      Some("""{"op":"mirrorBootstrap"}"""))
    feed.commit(gens.head)
    assert(ids(sink) == Set(1L, 2L, 3L))
    // CRASH at step 1's sink commit point: the rewrite tree is
    // written but unpublished — nothing visible, cursor unmoved
    sink.beforeCommit = () => sys.error("crash-at-commit")
    intercept[RuntimeException] {
      feed.consumeInto(sink, maxGenerations = 2, mirror = true)
    }
    sink.beforeCommit = () => ()
    assert(ids(sink) == Set(1L, 2L, 3L), "the crashed step landed nothing")
    // replay lands step 1; sink == source@B
    assert(feed.consumeInto(sink, maxGenerations = 2, mirror = true)
      .contains(gens(2)))
    assert(ids(sink) == Set(1L, 2L, 3L, 4L, 5L))
    assert(ids(sink) == genIds(src, gens(2)))
    // CRASH between step 2's sink commit and cursor advance: land the
    // polled increment with the consumer's exact audit line, do NOT
    // commit — the next run must heal forward without re-applying
    val inc = feed.poll(maxGenerations = 1).get
    sink.applyMirror(inc.added, inc.removed, Seq("id"),
      Some("""{"op":"cdcConsume","consumer":"mirror","toGen":"""" +
        inc.toGen + """","mode":"mirror"}"""))
    assert(ids(sink) == Set(4L, 5L), "the expire's removals applied")
    val sinkGens = sink.generations().size
    assert(feed.consumeInto(sink, mirror = true).isEmpty,
      "healed forward: the landed step must not re-apply")
    assert(sink.generations().size == sinkGens, "heal lands nothing")
    assert(ids(sink) == Set(4L, 5L))
    assert(ids(sink) == genIds(src, gens(3)))
    feed.reset()
    // SINGLE-JUMP transactionality: a second mirror bootstrapped at A
    // consumes A→C in ONE sink commit that applies adds {4,5} AND
    // removals {1,2,3} together — never an intermediate state
    val sink2 = new ParquetStore(spark, root, "sink2", "start")
    val feed2 = src.cdcFeed("mirror2", keyCols = Seq("id"))
    sink2.replaceCommitted(src.readGeneration(gens.head),
      Some("""{"op":"mirrorBootstrap"}"""))
    feed2.commit(gens.head)
    assert(feed2.consumeInto(sink2, mirror = true).contains(gens.last))
    assert(ids(sink2) == Set(4L, 5L))
    assert(sink2.generations().size == 2,
      "adds and removals must land in ONE commit (bootstrap + jump)")
    // MID-LIFE RESYNC: retention outruns the cursor — a mirror
    // truncate-and-reloads transactionally instead of refusing
    (0 until graft.store.StoreManifest.KeepGens + 1)
      .foreach(_ => src.compact())
    src.vacuum(graceMs = 0L): Unit
    val r = feed2.consumeInto(sink2, mirror = true)
    assert(r.isDefined, "a mirror accepts the resync")
    assert(ids(sink2) == Set(4L, 5L),
      "the reload equals the source — never doubled")
    assert(sink2.read(None, None).get.count() == 2L)
    feed2.reset()
  }

  test("applyMirror removes a key landed through writeStaged: staged " +
      "files are manifest entries, rewritten with the affected dates") {
    val root = newRoot()
    def batch(ids: Seq[Long]) =
      ids.map(i => (i, t0 + i * 60L * 1000000L, i * 10L))
        .toDF("id", "start", "trace_id")
    val s1 = new ParquetStore(spark, root, "m1", "start")
    s1.write(batch(Seq(1L, 2L)))
    s1.writeStaged(batch(Seq(3L, 4L)))
    s1.applyMirror(None, Some(batch(Seq(1L, 3L))), Seq("id"))
    assert(s1.read(None, None).get.select("id").as[Long].collect().toSet ==
      Set(2L, 4L))
    // the surviving staged row was rewritten into the partitioned tree
    assert(s1.stagedFileCount == 0)
  }

  test("applyMirror refuses a dirty-marked sink: direct-write files " +
      "would silently keep removed keys alive, so the mirror fails " +
      "loudly before any mutation") {
    val root = newRoot()
    def batch(ids: Seq[Long]) =
      ids.map(i => (i, t0 + i * 60L * 1000000L, i * 10L))
        .toDF("id", "start", "trace_id")
    // a dirty marker an older binary's direct write left → refused
    val s2 = new ParquetStore(spark, root, "m2", "start")
    s2.write(batch(Seq(1L, 2L)))
    val marker = plantDirtyMarker(s"$root/m2")
    val ex2 = intercept[IllegalStateException] {
      s2.applyMirror(None, Some(batch(Seq(1L))), Seq("id"))
    }
    assert(ex2.getMessage.contains(marker))
  }

  /** A `dirty-*` marker as an older binary's direct write left it. */
  private def plantDirtyMarker(tableDir: String): String = {
    val name = s"dirty-${System.currentTimeMillis()}-leftover"
    val p = new org.apache.hadoop.fs.Path(s"$tableDir/_manifest/$name")
    graft.store.StoreFs.fs(p).createNewFile(p): Unit
    name
  }

  test("a leftover dirty marker makes reads and mutations throw, " +
      "naming the marker, instead of dropping the rows it stands for") {
    val root = newRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    store.write(Seq((1L, t0, 10L)).toDF("id", "start", "trace_id"))
    val marker = plantDirtyMarker(s"$root/span")
    val fresh = new ParquetStore(spark, root, "span", "start")
    for (op <- Seq[() => Any](
        () => fresh.read(None, None),
        () => fresh.read(Some(t0), Some(t0 + 1000L)),
        () => store.write(Seq((2L, t0, 20L)).toDF("id", "start", "trace_id")),
        () => store.compact())) {
      val ex = intercept[IllegalStateException](op())
      assert(ex.getMessage.contains(marker) &&
        ex.getMessage.contains("compact()"), ex.getMessage)
    }
  }

  test("a leftover _staging file from an older binary makes reads and " +
      "mutations throw, naming it; files compact() tombstoned pass") {
    val root = newRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    store.write(Seq((1L, t0, 10L)).toDF("id", "start", "trace_id"))
    // plant a staged file the way an older binary's writeStaged did
    val staged = s"$root/span/_staging"
    Seq((2L, t0, 20L)).toDF("id", "start", "trace_id").coalesce(1)
      .write.parquet(staged)
    val fresh = new ParquetStore(spark, root, "span", "start")
    for (op <- Seq[() => Any](
        () => fresh.read(None, None),
        () => fresh.readPrefixes(t0, t0 + 60000000L),
        () => fresh.write(Seq((3L, t0, 30L)).toDF("id", "start", "trace_id")),
        () => fresh.compact())) {
      val ex = intercept[IllegalStateException](op())
      assert(ex.getMessage.contains("_staging/part-") &&
        ex.getMessage.contains("compact()"), ex.getMessage)
    }
    // the instance that probed before the plant keeps its memo: the
    // check runs once per instance, never once per read
    assert(store.read(None, None).get.count() == 1L)
    // once an older binary's compact() has tombstoned the file, it is
    // part of the table's history and no longer refused
    val name = new java.io.File(java.net.URI.create(staged).getPath)
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).head
    val fsys = graft.store.StoreFs.fs(new org.apache.hadoop.fs.Path(root))
    val m = new graft.store.StoreManifest(fsys, s"$root/span")
    m.publish(adds = Nil, drops = Nil,
      deadPlus = Seq(graft.store.StoreManifest.Dead(s"_staging/$name",
        System.currentTimeMillis())),
      deadMinus = Nil, schema = store.manifestSchema.get,
      parent = store.generations().lastOption)
    assert(new ParquetStore(spark, root, "span", "start")
      .read(None, None).get.count() == 1L)
  }

  test("drifted writes record the superset schema, and a read null-pads " +
      "exactly as a footer-inferred read does") {
    val root = newRoot()
    val store = new ParquetStore(spark, root, "log", "time")
    store.write(Seq((1L, t0, "a")).toDF("id", "time", "msg"))
    store.write(Seq((2L, t0 + 60L * 1000000L, "b", 7L))
      .toDF("id", "time", "msg", "extra"))
    assert(store.manifestSchema.map(_.fieldNames.toSeq)
      .contains(Seq("id", "time", "msg", "extra")))
    val cols = Seq("id", "time", "msg", "extra").map(col)
    val fromManifest = store.read(None, None).get.select(cols: _*)
    val footers = spark.read.option("mergeSchema", "true")
      .parquet(store.manifestFiles.get.map(r => s"$root/log/$r"): _*)
      .select(cols: _*)
    assert(fromManifest.collect().toSet == footers.collect().toSet)
    assert(fromManifest.filter(col("extra").isNull).count() == 1L)
    // a re-typed column is a conflict the record cannot settle: the
    // write throws before its publish and the table is unchanged
    val head = store.generations().last
    intercept[ParquetStore.SchemaConflictException] {
      store.write(Seq((3L, t0, "c", "x")).toDF("id", "time", "msg", "extra"))
    }
    assert(store.generations().last == head)
    assert(store.read(None, None).get.count() == 2L)
  }

  test("applyMirror removes a key that arrived through write") {
    val root = newRoot()
    def batch(ids: Seq[Long]) =
      ids.map(i => (i, t0 + i * 60L * 1000000L, i * 10L))
        .toDF("id", "start", "trace_id")
    val st = new ParquetStore(spark, root, "m", "start")
    st.write(batch(Seq(1L, 2L)))
    st.write(batch(Seq(3L)))
    st.applyMirror(Some(batch(Seq(4L))), Some(batch(Seq(2L, 3L))), Seq("id"))
    assert(st.read(None, None).get.select("id").as[Long].collect()
      .toSet == Set(1L, 4L))
  }

  test("generationAsOf same-millisecond tie resolves by fold lineage, " +
      "not UUID order: the child no tied candidate names as parent " +
      "wins; ambiguity and unreadable winners degrade as before") {
    import graft.store.ParquetStore.resolveAsOf
    val ms = Map("a" -> 1L, "b" -> 2L, "c" -> 2L)
    def millis(g: String) = ms.get(g)
    // c is b's child committed in the same millisecond, but sorts
    // BEFORE b lexicographically — the UUID-order hazard
    val names = Seq("a", "c", "b")
    val parent = Map("b" -> "a", "c" -> "b")
    assert(resolveAsOf(names, millis, parent.get, _ => true)
      .contains("c"), "the fold child supersedes its same-ms parent")
    // no tie: plain newest-readable
    assert(resolveAsOf(Seq("a", "b"), millis, parent.get, _ => true)
      .contains("b"))
    // tie with the child unreadable: the readable parent answers
    assert(resolveAsOf(names, millis, parent.get, _ != "c")
      .contains("b"))
    // ambiguous tie (two roots, neither the other's parent): stable
    // name order, never an exception
    assert(resolveAsOf(Seq("x", "y"), Map("x" -> 5L, "y" -> 5L).get,
      _ => None, _ => true).contains("y"))
    // nothing eligible
    assert(resolveAsOf(Nil, millis, parent.get, _ => true).isEmpty)
    // all unreadable
    assert(resolveAsOf(names, millis, parent.get, _ => false).isEmpty)
  }

  test("mirror model check: a stepped mirror equals the source at " +
      "every consumed generation across a SEEDED random mutation " +
      "sequence (appends, date compactions, expiries, whole-table " +
      "re-layouts, vacuums)") {
    val root = newRoot()
    val src = new ParquetStore(spark, root, "src", "start")
    val sink = new ParquetStore(spark, root, "sink", "start")
    val day = 86400L * 1000000L
    val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone"))
    def dateOf(off: Long): String = java.time.LocalDate.ofInstant(
      java.time.Instant.ofEpochSecond((t0 + off * day) / 1000000L),
      zone).toString
    def batch(ids: Seq[Long], dayOff: Long) =
      ids.map(i => (i, t0 + dayOff * day + (i % 60) * 60L * 1000000L,
        i * 10L)).toDF("id", "start", "trace_id")
    def ids(df: Option[org.apache.spark.sql.DataFrame]): Set[Long] =
      df.map(_.select("id").as[Long].collect().toSet)
        .getOrElse(Set.empty)
    val rnd = new scala.util.Random(20L)
    var nextId = 0L
    var nextDay = 0L
    var oldestDay = 0L
    // bootstrap: day 0 landed, mirror snapshot + cursor at gen 1
    src.writeStaged(batch(Seq(0L, 1L, 2L), 0L)); nextId = 3L
    src.compact(granularity = "day"); nextDay = 1L
    val feed = src.cdcFeed("model-mirror", keyCols = Seq("id"))
    assert(feed.consumeInto(sink, mirror = true).isDefined)
    assert(ids(sink.read(None, None)) == Set(0L, 1L, 2L))
    var steps = 0
    for (op <- 0 until 8) {
      rnd.nextInt(4) match {
        case 0 | 1 => // append a fresh day, folded by compactDate
          val fresh = (nextId until nextId + 2 + rnd.nextInt(3)).toSeq
          nextId = fresh.last + 1
          src.write(batch(fresh, nextDay))
          src.compactDate(dateOf(nextDay))
          nextDay += 1
        case 2 if oldestDay < nextDay - 1 => // expire the oldest day
          src.expire(t0 + (oldestDay + 1) * day): Unit
          oldestDay += 1
        case 2 => src.vacuum(graceMs = 7L * 86400000L): Unit
        case 3 => // whole-table re-layout: every row moves files —
          // invisible to a keyed mirror
          src.compact(granularity = "day")
      }
      // drain the feed one bounded step at a time; after EVERY step
      // the sink must equal the source AS OF the consumed generation
      var consumed = feed.consumeInto(sink, maxGenerations = 1,
        mirror = true)
      while (consumed.isDefined) {
        steps += 1
        assert(ids(sink.read(None, None)) ==
          ids(src.readGeneration(consumed.get)),
          s"mirror diverged at op $op, gen ${consumed.get}")
        consumed = feed.consumeInto(sink, maxGenerations = 1,
          mirror = true)
      }
      // caught up ⇒ the sink equals the CURRENT source table
      assert(ids(sink.read(None, None)) == ids(src.read(None, None)),
        s"mirror diverged from current truth at op $op")
    }
    // some seeded ops are legitimate no-commit no-ops (a vacuum with
    // nothing ripe publishes nothing), so the floor is below the op
    // count — it exists to catch a feed that silently stopped
    // delivering, not to pin the op mix
    assert(steps >= 5, s"the sequence must have consumed steps: $steps")
    feed.reset()
  }

  test("consumeInto under sink-side schema drift: an increment " +
      "carrying a column the sink's earlier generations lack lands " +
      "committed and reads back merged — append and mirror modes") {
    val root = newRoot()
    val src = new ParquetStore(spark, root, "src", "start")
    val sinkA = new ParquetStore(spark, root, "sinkA", "start")
    val sinkM = new ParquetStore(spark, root, "sinkM", "start")
    val day = 86400L * 1000000L
    src.writeStaged(Seq((1L, t0, 10L), (2L, t0 + 60L * 1000000L, 20L))
      .toDF("id", "start", "trace_id"))
    src.compact() // gen A: no `env` anywhere
    val feedA = src.cdcFeed("driftA", keyCols = Seq("id"))
    val feedM = src.cdcFeed("driftM", keyCols = Seq("id"))
    assert(feedA.consumeInto(sinkA).isDefined) // append bootstrap
    assert(feedM.consumeInto(sinkM, mirror = true).isDefined,
      "a mirror's FIRST consumption bootstraps through the resync")
    assert(sinkA.manifestSchema.isDefined,
      "uniform committed appends keep the recorded schema")
    // the drifted increment: day-2 rows carry a NEW column
    val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone"))
    val day2 = java.time.LocalDate.ofInstant(java.time.Instant
      .ofEpochSecond((t0 + day) / 1000000L), zone).toString
    src.write(Seq((3L, t0 + day + 60L * 1000000L, 30L, "prod"))
      .toDF("id", "start", "trace_id", "env"))
    src.compactDate(day2)
    assert(feedA.consumeInto(sinkA).isDefined)
    assert(feedM.consumeInto(sinkM, mirror = true).isDefined)
    for (sink <- Seq(sinkA, sinkM)) {
      val df = sink.read(None, None).get
      assert(df.columns.contains("env"),
        s"drifted column must read back: ${df.columns.toSeq}")
      assert(df.select("id").as[Long].collect().toSet ==
        Set(1L, 2L, 3L))
      assert(df.filter(col("env") === "prod").select("id").as[Long]
        .collect().toSet == Set(3L))
      assert(df.filter(col("env").isNull).count() == 2L,
        "pre-drift rows read the new column as null")
    }
    // the drifted append and the drifted mirror step both record the
    // widened schema: the sink's columns, then the new one — what its
    // files' footers merge to
    for (sink <- Seq(sinkA, sinkM))
      assert(sink.manifestSchema.map(_.fieldNames.toSeq)
        .contains(Seq("id", "start", "trace_id", "env")))
    feedA.reset(); feedM.reset()
  }

  test("a pre-round-19 count= generation is never folded and never " +
      "deleted: reads fall back past it, vacuum stands down and " +
      "refuses to reclaim it") {
    import graft.store.{StoreFs, StoreManifest}
    val root = newRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    store.writeStaged((1L to 3L).map(i =>
      (i, t0 + i * 60L * 1000000L, i * 10L))
      .toDF("id", "start", "trace_id"))
    store.compact()
    val served = store.generations().last
    val fsys = StoreFs.fs(new org.apache.hadoop.fs.Path(root))
    val mdir = new org.apache.hadoop.fs.Path(s"$root/span/_manifest")
    // the newest name, and a self-consistent inline checkpoint that
    // pre-round-19 readers folded
    val legacy = f"gen-${9L * 1000000000000000000L}%019d-inline.list"
    val legacyPath = new org.apache.hadoop.fs.Path(mdir, legacy)
    val o = fsys.create(legacyPath, true)
    o.write("count=1\ndate=2020-01-01/part-0.parquet\t7\t7\n"
      .getBytes("UTF-8"))
    o.close()
    assert(store.generations().last == legacy)
    // reads fall back past it to the newest two-level generation
    assert(!store.generationReadable(legacy))
    assert(new StoreManifest(fsys, s"$root/span").read().map(_.gen)
      .contains(served))
    assert(store.read(None, None).get.count() == 3L)
    // vacuum stands down on it and never reclaims it
    assert(store.vacuumStandDowns().exists { case (n, r, rec) =>
      n == legacy && r.contains("unknown body form") && !rec },
      s"${store.vacuumStandDowns()}")
    intercept[IllegalArgumentException] {
      store.vacuum(0, reclaimUnknown = Seq(legacy))
    }
    store.vacuum(0): Unit
    assert(fsys.exists(legacyPath), "vacuum must not delete it")
    assert(store.read(None, None).get.count() == 3L)
  }

  test("future-format classifier reads the WHOLE header region: a " +
      "future protocol behind a megabyte schema line stands vacuum " +
      "down; header-torn and empty debris stand down with reasons; a " +
      "pre-round-19 count= body stands down as an unknown form; " +
      "acknowledged debris reclaims and the sweeps resume") {
    import graft.store.StoreFs
    val root = newRoot()
    val store = new ParquetStore(spark, root, "span", "start")
    store.write((1L to 4L).map(i =>
      (i, t0 + i * 60L * 1000000L, i * 10L))
      .toDF("id", "start", "trace_id"))
    store.compact() // tombstones the legacy files
    assert(store.manifestDead.exists(_.nonEmpty))
    val fsys = StoreFs.fs(new org.apache.hadoop.fs.Path(root))
    val mdir = new org.apache.hadoop.fs.Path(s"$root/span/_manifest")
    def plant(name: String, body: Array[Byte]): String = {
      val p = new org.apache.hadoop.fs.Path(mdir, name)
      val o = fsys.create(p, true); o.write(body); o.close(); name
    }
    // 1. the ADVICE medium: a future `protocol` line behind a 3 MB
    // drifted-schema header line, gzipped — a fixed 64 KB read cap
    // would truncate the protocol away and classify known-format,
    // silently failing the gate open in exactly the rollback scenario
    // it exists for
    val wideBody = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(("mlist=0\nparent\tgen-x\nschema\t" +
        ("x" * (3 * 1024 * 1024)) + "\nprotocol\tfuture-v99\n")
        .getBytes("UTF-8"))
      gz.close(); bos.toByteArray
    }
    val wide = plant(f"gen-${2L}%019d-wide.list", wideBody)
    // 2. torn INSIDE the header region (a non-atomic copy's tear):
    // unterminated schema line, self-count broken — unreadable at the
    // parse layer too, the acknowledgeable shape
    val torn = plant(f"gen-${3L}%019d-headtorn.list",
      "mlist=2\nparent\tgen-x\nschema\t{trunc".getBytes("UTF-8"))
    // 2b. the PERVERSE tear: truncating after "mlist=0\n…" leaves a
    // body the parse layer folds as a self-consistent EMPTY
    // checkpoint — header-scan-torn but READABLE, so it must report
    // non-reclaimable and refuse the ack (deleting a foldable
    // generation is never allowed through the API)
    val tornReadable = plant(f"gen-${8L}%019d-headtornreadable.list",
      "mlist=0\nparent\tgen-x\nschema\t{trunc".getBytes("UTF-8"))
    // 3. zero-byte artifact
    val empty = plant(f"gen-${4L}%019d-zero.list", Array.empty[Byte])
    // 3b. a gzip body torn INSIDE the header region (non-atomic copy
    // of a checkpoint): the inflater hits EOF mid-header — provably
    // dead (whole-file rename publishing never produces it)
    val tornGz = plant(f"gen-${6L}%019d-gztorn.list",
      wideBody.take(400).toArray)
    // 4. a pre-round-19 inline checkpoint (`count=` header, here with
    // an entry line whose rel is literally `protocol`): no longer a
    // known form, so it stands down like any unknown body — never
    // reclaimable, since a form this binary cannot read proves nothing
    val prot = plant(f"gen-${5L}%019d-prot.list",
      "count=1\nprotocol\t10\t20\n".getBytes("UTF-8"))
    val stand = store.vacuumStandDowns()
    assert(stand.exists { case (n, r, rec) =>
      n == wide && r.contains("future protocol") && !rec },
      s"wide-header future protocol must classify, NOT reclaimable: $stand")
    assert(stand.exists { case (n, r, rec) =>
      n == torn && r.contains("torn inside the header region") && rec },
      s"$stand")
    assert(stand.exists { case (n, r, rec) =>
      n == empty && r.contains("empty") && rec }, s"$stand")
    assert(stand.exists { case (n, r, rec) =>
      n == tornGz && r.contains("torn gzip") && rec }, s"$stand")
    assert(stand.exists { case (n, r, rec) =>
      n == tornReadable && r.contains("torn inside the header region") &&
        !rec }, s"a foldable tear must report non-reclaimable: $stand")
    assert(stand.exists { case (n, r, rec) =>
      n == prot && r.contains("unknown body form") && !rec },
      s"a count= body must classify as an unknown form: $stand")
    assert(stand.size == 6)
    // stand-down holds under maximal deletion pressure
    val (_, orphans1, pruned1) = store.vacuum(0)
    assert(orphans1 == 0 && pruned1 == 0)
    assert(store.manifestDead.exists(_.nonEmpty),
      "the dead-list republish must stand down too")
    // acknowledging a READABLE generation, an unheld name, or — the
    // critical one — a FUTURE-PROTOCOL generation (a newer binary's
    // live commit) throws: the acknowledge path must never become
    // the rollback hazard's own delete button
    intercept[IllegalArgumentException] {
      store.vacuum(0, reclaimUnknown = Seq(store.generations().last))
    }
    intercept[IllegalArgumentException] {
      store.vacuum(0, reclaimUnknown = Seq("gen-not-there.list"))
    }
    intercept[IllegalArgumentException] {
      store.vacuum(0, reclaimUnknown = Seq(wide))
    }
    intercept[IllegalArgumentException] {
      store.vacuum(0, reclaimUnknown = Seq(tornReadable))
    }
    intercept[IllegalArgumentException] {
      store.vacuum(0, reclaimUnknown = Seq(prot))
    }
    assert(store.vacuumStandDowns().size == 6, "failed acks reclaim nothing")
    // the operator acknowledges the provably-dead debris: reclaimed,
    // but the future-protocol generation still gates the sweeps
    store.vacuum(0, reclaimUnknown = Seq(torn, empty, tornGz)): Unit
    assert(store.vacuumStandDowns().map(_._1).sorted ==
      Seq(wide, tornReadable, prot).sorted)
    assert(store.manifestDead.exists(_.nonEmpty),
      "sweeps stay down while the future commit is present")
    // the future generation, the foldable tear and the count= body
    // gone (the newer binary's / the operator's out-of-band cleanup),
    // the same pass's sweeps resume
    Seq(wide, tornReadable, prot).foreach(n =>
      fsys.delete(new org.apache.hadoop.fs.Path(mdir, n), false): Unit)
    store.vacuum(0): Unit
    assert(store.vacuumStandDowns().isEmpty)
    assert(store.manifestDead.exists(_.isEmpty),
      "with the gate clear the republish prunes the dead list")
    assert(store.read(None, None).get.count() == 4)
    store.generations().foreach(g => assert(store.generationReadable(g)))
    // an OVERSIZED header (no newline inside the classify bound)
    // stands down but is NOT reclaimable: the bound is reader-local,
    // not a format invariant — a future binary's wide-header commit
    // must never become deletable through the acknowledge path
    val big = new Array[Byte](65 * 1024 * 1024)
    java.util.Arrays.fill(big, 'x'.toByte)
    val oversize = plant(f"gen-${7L}%019d-oversize.list", big)
    assert(store.vacuumStandDowns().exists { case (n, r, rec) =>
      n == oversize && r.contains("exceeds") && !rec })
    intercept[IllegalArgumentException] {
      store.vacuum(0, reclaimUnknown = Seq(oversize))
    }
    fsys.delete(new org.apache.hadoop.fs.Path(mdir, oversize),
      false): Unit
    assert(store.vacuumStandDowns().isEmpty)
  }

  test("cross-process maintenance races: a child process runs " +
      "compactDate/vacuum against a table the parent " +
      "keeps mutating — every interleaving lands cleanly or rejects " +
      "loudly, zero rows lost, every retained generation folds after") {
    import scala.jdk.CollectionConverters._
    val local = java.nio.file.Files.createTempDirectory("contendm").toString
    val store = new ParquetStore(spark, local, "span", "start")
    store.writeStaged((1L to 6L).map(i =>
      (i, t0 + i * 60L * 1000000L, i * 10L))
      .toDF("id", "start", "trace_id"))
    store.compact()
    val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone"))
    val date1 = java.time.LocalDate.ofInstant(
      java.time.Instant.ofEpochSecond(t0 / 1000000L), zone).toString
    val out = java.nio.file.Files.createTempFile("contendm_", ".json")
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val iters = 4
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-cp",
      System.getProperty("java.class.path"), "graft.ContendProbe",
      local, iters.toString, out.toString, "maintenance", date1)
    val pb = new ProcessBuilder(cmd.asJava)
    pb.redirectErrorStream(true)
    pb.redirectOutput(java.nio.file.Files
      .createTempFile("contendm_", ".log").toFile)
    val proc = pb.start()
    try {
      // the parent keeps mutating with FRESH instances (each claims a
      // new lease) — racing the child's maintenance ops both ways:
      // every op on either side lands cleanly or rejects loudly
      var parentOk = 0
      val deadline = System.currentTimeMillis() + 180000L
      while (proc.isAlive && System.currentTimeMillis() < deadline) {
        try {
          new ParquetStore(spark, local, "span", "start").compact()
          parentOk += 1
        } catch {
          case _: ParquetStore.WriterFencedException => ()
          case _: graft.store.StoreManifest.ConcurrentCommitException => ()
          case e: IllegalStateException if e.getMessage != null &&
            e.getMessage.contains("re-plan") => ()
        }
        Thread.sleep(150L)
      }
      assert(proc.waitFor(4, java.util.concurrent.TimeUnit.MINUTES),
        "the child process timed out")
      assert(parentOk > 0,
        "the parent must land at least one commit through the storm")
    } finally { if (proc.isAlive) proc.destroyForcibly(): Unit }
    // the child wrote its report ⇔ every one of its ops either landed
    // or was rejected by a COUNTED loud path (anything else crashes
    // the probe before the write); the counts must account for every
    // attempted op
    val report = java.nio.file.Files.readString(out)
    val counts = """-?\d+""".r.findAllIn(report).map(_.toInt).toSeq
    assert(counts.size == 3 && counts.sum == iters * 2,
      s"every maintenance op must land or reject loudly: $report")
    // post-storm: the table is whole — zero lost rows, every retained
    // generation folds, the manifest is live
    val after = new ParquetStore(spark, local, "span", "start")
    assert(after.read(None, None).get.select("id").as[Long]
      .collect().toSet == (1L to 6L).toSet)
    assert(after.manifestPresent)
    after.generations().foreach(g =>
      assert(after.generationReadable(g), s"$g must fold whole"))
  }
}
