package graft

import org.apache.spark.sql.SparkSession

/** Cross-process two-writer contention harness: a SECOND engine
  * process that claims and mutates an existing store root, reporting
  * how its mutations fared. The single-writer contract
  * ([[graft.store.ParquetStore]] epoch leases + the expected-parent
  * CAS in [[graft.store.StoreManifest]]) is spec-pinned in-JVM via
  * the `beforeRename`/`beforeCommit` seams; this probe is the
  * cross-PROCESS half — FsStoreSpec launches it as a real child JVM
  * against a live parent's store and asserts the parent is fenced
  * loudly, the child's commits land, and no committed row is lost.
  *
  * Args: `<root> <iterations> <reportPath> [mode [date]]`. Mode
  * `compact` (default): each iteration attempts one whole-table
  * compact. Mode `maintenance`: each iteration runs the maintenance
  * ops themselves — `compactDate(date)`, then `vacuum` with a short
  * grace — racing them against whatever the
  * parent process is doing to the same table (the round-20 extension:
  * maintenance must fence or CAS-reject loudly like any mutation,
  * never interleave silently). The JSON report counts clean commits,
  * writer-fence rejections and CAS rejections.
  */
object ContendProbe {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val iters = args(1).toInt
    val outPath = args(2)
    val mode = if (args.length > 3) args(3) else "compact"
    val date = if (args.length > 4) Some(args(4)) else None
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("contend-probe")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val store =
        new graft.store.ParquetStore(spark, root, "span", "start")
      var ok = 0; var fenced = 0; var cas = 0
      def attempt(body: => Unit): Unit =
        try { body; ok += 1 }
        catch {
          case _: graft.store.ParquetStore.WriterFencedException =>
            fenced += 1
          case _: graft.store.StoreManifest.ConcurrentCommitException =>
            cas += 1
          case e: IllegalStateException
              // publish's parent-gone / manifest-unreadable
              // re-plan signal — the documented loud rejection when
              // another writer's commit raced this planning snapshot
              if e.getMessage != null &&
                e.getMessage.contains("re-plan") => cas += 1
        }
      var i = 0
      while (i < iters) {
        if (mode == "maintenance") {
          date.foreach(d => attempt(store.compactDate(d)))
          // a real maintenance grace (never 0 against a live writer:
          // the orphan sweep must not eat a concurrent in-flight tree)
          attempt(store.vacuum(graceMs = 60000L): Unit)
        } else attempt(store.compact())
        Thread.sleep(100L)
        i += 1
      }
      java.nio.file.Files.writeString(
        java.nio.file.Path.of(outPath),
        s"""{"ok":$ok,"fenced":$fenced,"cas":$cas}"""): Unit
    } finally spark.stop()
  }
}
