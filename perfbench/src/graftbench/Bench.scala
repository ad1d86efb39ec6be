package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM:
  *
  * {{{
  * graftbench.Bench --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --out <file> [--spans <file>]
  *   [--size <preset>] [--tables <dir>] [--fault none|drop|4xx]
  * }}}
  *
  * Runs one workload's set-up, then operations until `--seconds` have
  * been spent on them (and at least the workload's minimum count ran),
  * checks every operation's outputs, and writes the raw figures to
  * `--out` as JSON. `perfbench/run.py` turns them into the benchmark's
  * result line.
  */
object Bench {

  /** Pipeline tree sizes. `standard` is what the benchmark runs. */
  final case class Size(topDirs: Int, dirs: Int, files: Int, maxDepth: Int)
  val Sizes: Map[String, Size] = Map(
    "standard" -> Size(topDirs = 8, dirs = 800, files = 20000, maxDepth = 6),
    "tiny" -> Size(topDirs = 4, dirs = 60, files = 1200, maxDepth = 4))

  /** `Indexer.step` job labels -> per-layer step names. */
  val StepLabels: Seq[(String, String)] = Seq(
    "indexer: scan + merge + snapshot write" -> "scan_merge_write",
    "indexer: deletion reconcile" -> "deletion_reconcile",
    "indexer: link refresh" -> "link_refresh",
    "indexer: dirSizes rollup maintenance" -> "rollup",
    "indexer: publish: bulk index" -> "bulk_index",
    "indexer: publish: bulk delete" -> "bulk_delete",
    "" -> "unlabeled")

  final case class Ctx(spark: SparkSession, workload: String, seed: Long,
      seconds: Double, work: Path, size: Size, tables: String,
      trace: Option[Trace], fault: String) {
    def span[T](name: String)(body: => T): T =
      trace.fold(body)(_.span(name)(body))

    /** Run `body` with its Spark jobs labelled `label`. */
    def labelled[T](label: String)(body: => T): T = {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(label)
      try body finally sc.setJobDescription(prev)
    }

    /** Operations back to back until `seconds` are spent and at least
      * `minOps` ran: one client, closed loop. A fixed minimum keeps the
      * sample count the same on a slow and a fast machine.
      */
    def loop(r: Run, minOps: Int)(op: Int => Unit): Unit = {
      Seams.fault = fault
      val t0 = System.nanoTime()
      var i = 0
      while (i < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
        op(i)
        i += 1
      }
      r.measuredS = (System.nanoTime() - t0) / 1e9
    }
  }

  /** Figures collected over one run's operations. */
  final class Run {
    val opsS = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[String]
    var failedOps = 0
    var measuredS = 0.0
    val infos = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val perOp = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val fixed = mutable.LinkedHashMap.empty[String, Double]
    val extra = mutable.LinkedHashMap.empty[String, String]

    def op(sec: Double, fails: Seq[String]): Unit = {
      opsS += sec
      if (fails.nonEmpty) { failedOps += 1; failures ++= fails }
    }
    def info(k: String, v: Double): Unit =
      infos.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    def layers(m: Map[String, Double]): Unit = m.foreach { case (k, v) =>
      perOp.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    }
    def layer(k: String, v: Double): Unit = fixed(k) = v

    def finish(setupS: Seq[Double], warmS: Double): Result =
      Result(this, setupS, warmS)
  }

  final case class Result(run: Run, setupS: Seq[Double], warmS: Double)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def jstr(s: String): String =
    "\"" + graft.functions.JsonText.esc(s) + "\""
  private def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  private def jarr(xs: Iterable[Double]): String =
    xs.map(jnum).mkString("[", ",", "]")
  private def jobj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")

  private def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val cpus = Runtime.getRuntime.availableProcessors
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val trace =
      if (a.getOrElse("trace", "0") == "1")
        Some(Trace.install(spark.sparkContext))
      else None
    val workload = a("workload")
    val ctx = Ctx(spark, workload, a("seed").toLong, a("seconds").toDouble,
      work, Sizes(a.getOrElse("size", "standard")), a.getOrElse("tables", ""),
      trace, a.getOrElse("fault", "none"))
    val gc0 = gcSeconds
    val res = workload match {
      case "reindex_churn" => new Pipeline(spark, ctx).reindexChurn()
      case "query_headline" => new Queries(spark, ctx).headline()
      case other => sys.error(s"unknown workload $other")
    }
    val r = res.run
    if (trace.isDefined) {
      r.layer("jvm.gc_s", gcSeconds - gc0)
      r.layer("jvm.peak_rss_mb", peakRssMb)
      a.get("spans").foreach(f =>
        Files.writeString(Paths.get(f), trace.get.spansJson + "\n"))
    }
    val layers = r.perOp.map { case (k, v) => k -> median(v.toSeq) } ++ r.fixed
    val json = jobj(Seq(
      "workload" -> jstr(workload),
      "cpus" -> cpus.toString,
      "headline" -> Queries.names.map(jstr).mkString("[", ",", "]"),
      "session_s" -> jnum(sessionS),
      "setup_body_s" -> jarr(res.setupS),
      "warmup_s" -> jnum(res.warmS),
      "measured_s" -> jnum(r.measuredS),
      "ops_s" -> jarr(r.opsS),
      "failed_ops" -> r.failedOps.toString,
      "failures" -> r.failures.take(20).map(jstr).mkString("[", ",", "]"),
      "info" -> jobj(r.infos.map { case (k, v) => k -> jarr(v) }),
      "layers" -> jobj(layers.map { case (k, v) => k -> jnum(v) }),
      "extra" -> jobj(r.extra)))
    Files.writeString(Paths.get(a("out")), json + "\n")
    spark.stop()
  }
}
