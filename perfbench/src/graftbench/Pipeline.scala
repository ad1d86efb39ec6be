package graftbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

import graft.pipeline.{Indexer, IndexerConfig}
import graft.sinks.ParquetIndex
import graft.sources.FsListing

/** The pipeline workload, `reindex_churn`, and the traced run's probe
  * of the event-driven path (`publishScoped`).
  *
  * Setup builds the seeded tree and indexes it once from empty in
  * elasticsearch mode; the resulting index root is the pristine store.
  * Every operation then starts from exactly that state: the store is
  * copied from the pristine one into a fresh root, the seeded change is
  * applied to the tree, the timed call runs, its outputs are checked
  * against the tree's ground truth, and the change is undone. Snapshot
  * history and MOR log length therefore never drift across operations.
  */
final class Pipeline(spark: SparkSession, b: Bench.Ctx) {
  import Bench.median

  private val tree = new Tree(b.work.resolve("tree"), b.seed, b.size.topDirs,
    b.size.dirs, b.size.files, b.size.maxDepth)
  private val pristine = b.work.resolve("pristine")

  private def config(idx: Path) =
    IndexerConfig(tree.root.toString, idx.toString, mode = "elasticsearch")
  private def indexer(idx: Path) =
    new Indexer(config(idx), Some(Seams.Transport),
      linkFetch = Some(Seams.Fetch))

  /** Write the tree once, then build its initial index `SetupReps`
    * times into fresh roots (the median is the repeatable part of
    * `setup_s`); the first root is kept as the pristine store.
    */
  def setup(r: Bench.Run): Seq[Double] = {
    val t0 = System.nanoTime()
    b.span("setup.tree")(tree.materialize())
    r.extra("tree_s") = ((System.nanoTime() - t0) / 1e9).toString
    (0 until Pipeline.SetupReps).map { rep =>
      val idx = if (rep == 0) pristine else b.work.resolve(s"pristine-$rep")
      val t1 = System.nanoTime()
      val rp = b.span("setup.initial_index")(indexer(idx).run(spark))
      val s = (System.nanoTime() - t1) / 1e9
      if (rp.indexed != tree.entries || rp.esFailed != 0)
        throw new IllegalStateException(
          s"initial index sent ${rp.indexed} of ${tree.entries} entries " +
            s"(${rp.esFailed} failed)")
      if (rep > 0) Tree.rmTree(idx)
      s
    }
  }

  private def fresh(op: Int): Path = {
    val idx = b.work.resolve(s"idx-$op")
    Tree.rmTree(idx)
    Tree.copyTree(pristine, idx)
    idx
  }

  private def rng(op: Int) = new SplittableRandom(b.seed * 1000003L + op)

  /** The resolved store against the tree's ground truth. */
  private def checkStore(idx: Path, fails: mutable.Buffer[String],
      what: String): Unit = {
    val rows = new ParquetIndex(idx.toString)
      .readMor(spark, "relative_path", "modified_time").get
      .select("relative_path", "type", "size_bytes").collect()
    val nFiles = rows.count(_.getString(1) == "file")
    val nDirs = rows.count(_.getString(1) == "directory")
    val bytes = rows.filter(_.getString(1) == "file")
      .map(r => r.getLong(2)).sum
    val dig = Tree.digestOf(rows.iterator.map(_.getString(0)))
    if (dig != tree.pathDigest) fails += s"$what: store path-set digest differs"
    if (nFiles != tree.files.size || nDirs != tree.dirs.size)
      fails += s"$what: store has $nFiles files / $nDirs dirs, " +
        s"expected ${tree.files.size} / ${tree.dirs.size}"
    if (bytes != tree.bytes) fails += s"$what: store bytes $bytes != ${tree.bytes}"
  }

  /** Layer figures of one operation, from outside the program. */
  private def layerFigures(idx: Path, fromMs: Long, toMs: Long,
      d: Seams.Counts, changed: Int, esFailed: Long): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    b.trace.foreach { tr =>
      val w = tr.window(fromMs, toMs)
      Bench.StepLabels.foreach { case (label, step) =>
        val s = w.get(label)
        out(s"pipeline.step.$step.wall_s") = s.map(_.wallS).getOrElse(0.0)
        out(s"pipeline.step.$step.task_s") = s.map(_.taskS).getOrElse(0.0)
        out(s"pipeline.step.$step.shuffle_mb") = s.map(_.shuffleMb).getOrElse(0.0)
        out(s"pipeline.step.$step.spill_mb") = s.map(_.spillMb).getOrElse(0.0)
      }
      out("sinks.store.bytes_written_mb") =
        w.filter(!_._1.startsWith("bench:")).values.map(_.writtenMb).sum
      out("spark.jobs") =
        w.filter(!_._1.startsWith("bench:")).values.map(_.jobs).sum
    }
    val items = d.indexItems + d.deleteItems
    out("sinks.es.items") = items
    out("sinks.es.bulk_calls") = d.bulkCalls
    out("sinks.es.mb_sent") = d.bytesSent / 1048576.0
    out("sinks.es.failed") = esFailed
    out("sinks.es.busy_s") = d.busyNs / 1e9
    out("sinks.es.items_per_changed_entry") = items.toDouble / changed
    out("pipeline.links.fetch_calls") = d.fetchCalls
    out("pipeline.links.fetch_per_changed_file") = d.fetchCalls.toDouble / changed
    val store = new ParquetIndex(idx.toString)
    val cid = store.currentId.get
    out("sinks.store.mor_log_entries") = store.morEntries(cid).size
    out("sinks.store.mor_log_mb") = store.morLogBytes / 1048576.0
    out("sinks.store.snapshot_files") =
      Tree.parquetFiles(idx.resolve(s"snap-$cid"))
    out("sinks.store.read_mor_s") = b.labelled("bench: read_mor") {
      val t0 = System.nanoTime()
      val df = store.readMor(spark, "relative_path", "modified_time").get
      df.select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("h"))
        .agg(expr("bit_xor(h)")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    out.toMap
  }

  /** One `reindex_churn` operation, from the pristine store: churn `k`
    * seeded leaf dirs, time one full `Indexer.run`, and check its report
    * and the resolved store against the ground truth before the churn
    * is undone. GC and a short pause precede the timed call, so no
    * operation pays for its predecessor's garbage or background cleanup.
    */
  private def reindexOp(op: Int, r: Bench.Run, k: Int): Unit = {
    val idx = fresh(op)
    val rg = rng(op)
    val dirs = Tree.pickDistinct(tree.changeable.size, k, rg)
      .map(tree.changeable(_))
    val ch = tree.change(dirs, s"c$op", rg)
    val ix = indexer(idx)
    System.gc()
    Thread.sleep(300)
    val before = Seams.snap
    val fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val rep = try Right(b.span("Indexer.run")(ix.run(spark)))
      catch { case e: Exception => Left(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    val toMs = System.currentTimeMillis()
    val d = Seams.snap - before
    rep match {
      case Left(e) => r.op(sec, Seq(s"op $op threw ${e.getMessage}"))
      case Right(rp) =>
        val fails = mutable.ArrayBuffer.empty[String]
        if (rp.esFailed != 0) fails += s"op $op: ${rp.esFailed} ES items failed"
        if (rp.removed != ch.deleted.size)
          fails += s"removed ${rp.removed} != ${ch.deleted.size} deletions"
        if (rp.indexed != tree.entries ||
            rp.stats.files + rp.stats.dirs != tree.entries)
          fails += s"indexed ${rp.indexed} of " +
            s"${rp.stats.files + rp.stats.dirs} scanned, expected ${tree.entries}"
        if (d.indexItems != rp.indexed)
          fails += s"transport saw ${d.indexItems} index items, report ${rp.indexed}"
        b.labelled("bench: check")(checkStore(idx, fails, s"op $op"))
        r.op(sec, fails.toSeq)
        r.info("es_failed_items", rp.esFailed.toDouble)
        r.info("index_files_per_s", rp.stats.files / sec)
        r.info("store_bytes_per_entry", Tree.duBytes(idx).toDouble / tree.entries)
        if (b.trace.isDefined)
          r.layers(layerFigures(idx, fromMs, toMs, d, ch.changedFiles, rp.esFailed))
    }
    tree.undo(ch)
    Tree.rmTree(idx)
  }

  /** `reindex_churn`: a full elasticsearch-mode `Indexer.run` after a
    * seeded churn in 1% of the leaf dirs.
    */
  def reindexChurn(): Bench.Result = {
    val r = new Bench.Run
    val setupS = setup(r)
    val k = math.max(1, tree.leaves.size / 100)
    // untimed operations first: the initial builds leave the
    // incremental paths (merge, reconcile) and the planning of their
    // jobs cold, and a run's first re-index is 20-40% slower than the
    // ones after it
    val warm = new Bench.Run
    val w0 = System.nanoTime()
    (1 to Pipeline.WarmOps).foreach(i => reindexOp(-i, warm, k))
    val warmS = (System.nanoTime() - w0) / 1e9
    r.failedOps += warm.failedOps
    r.failures ++= warm.failures
    b.loop(r, Pipeline.MinOps)(reindexOp(_, r, k))
    if (b.trace.isDefined) {
      val scan = (0 until 3).map { _ =>
        b.labelled("bench: scan") {
          val t0 = System.nanoTime()
          val n = FsListing.list(spark, tree.root.toString,
            IndexerConfig.defaultSkips).count()
          (n, (System.nanoTime() - t0) / 1e9)
        }
      }
      val s = median(scan.map(_._2))
      r.layer("sources.scan_s", s)
      r.layer("sources.entries_per_s", scan.head._1 / s)
      scopedProbe(r)
    }
    r.finish(setupS, warmS)
  }

  /** The event-driven path seen from one scoped publish, for the traced
    * run: the subtree walk alone, one `publishScoped` of a changed leaf
    * dir, and what it costs the NEXT, unchanged full run in link
    * fetches. Fetches per changed file far above 1 mean the publish
    * dropped links it did not refresh.
    */
  private def scopedProbe(r: Bench.Run): Unit = {
    val rg = rng(1000000)
    val dir = tree.changeable(rg.nextInt(tree.changeable.size))
    r.layer("sources.subtree_scan_s", median((0 until 3).map { _ =>
      b.labelled("bench: scan") {
        val t0 = System.nanoTime()
        FsListing.list(spark, tree.root.toString + "/" + dir,
          IndexerConfig.defaultSkips, matchPrefix = dir + "/").count()
        (System.nanoTime() - t0) / 1e9
      }
    }))
    val idx = fresh(1000000)
    val ch = tree.change(Seq(dir), "probe", rg)
    val ix = indexer(idx)
    val f0 = Seams.fetchCalls.get
    val t0 = System.nanoTime()
    b.span("probe.publishScoped")(ix.publishScoped(spark, Seq(dir)))
    r.layer("pipeline.scoped.publish_s", (System.nanoTime() - t0) / 1e9)
    val f1 = Seams.fetchCalls.get
    b.span("probe.next_run")(ix.run(spark))
    val f2 = Seams.fetchCalls.get
    r.layer("pipeline.links.next_run_fetch_calls", (f2 - f1).toDouble)
    r.layer("pipeline.links.fetch_per_changed_file",
      (f2 - f0).toDouble / ch.changedFiles)
    tree.undo(ch)
    Tree.rmTree(idx)
  }
}

object Pipeline {
  /** Initial index builds in set-up; the median is reported. */
  val SetupReps = 3
  /** Untimed operations before the timed ones. */
  val WarmOps = 2
  /** Operations per run, at least: a median of 4 shrugs off one outlier. */
  val MinOps = 4
}
