package graftbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

import graft.SparkEntry

/** `query_headline`: the headline queries through `SparkEntry.queries`
  * on the seeded tables, staged by graft's `Bench.stageResharded`.
  *
  * Set-up stages the tables `StageReps` times (the median is the
  * repeatable part of `setup_s`) and keeps the first staging. Warm-up
  * runs every query once and writes its result as parquet;
  * `run.py` later digests those files against the query's DuckDB
  * oracle on the same tables. Each timed operation is one query, fully
  * materialized by an order-independent hash of every output column;
  * a hash that differs from the warm-up result's is a failed operation.
  */
final class Queries(spark: SparkSession, b: Bench.Ctx) {
  import Queries.names

  private def checksum(df: DataFrame): Long = {
    val row = df
      .select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("h"))
      .agg(expr("bit_xor(h)"), expr("count(*)")).collect()(0)
    (if (row.isNullAt(0)) 0L else row.getLong(0)) * 31 + row.getLong(1)
  }

  def headline(): Bench.Result = {
    val qs = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val out = b.work.resolve("out")
    val r = new Bench.Run
    val parts = 2 * Runtime.getRuntime.availableProcessors
    val stagings = (0 until Queries.StageReps).map { _ =>
      b.labelled("bench: stage")(b.span("setup.stage")(
        graft.PerfbenchStage.stageResharded(spark, b.tables, parts)))
    }
    stagings.drop(1).foreach(s => Tree.rmTree(Paths.get(s._1)))
    val tables = stagings.head._1
    val expected = mutable.Map.empty[String, Long]
    val warmEach = mutable.LinkedHashMap.empty[String, Double]
    val w0 = System.nanoTime()
    names.foreach { q =>
      val q0 = System.nanoTime()
      b.labelled(s"bench: warmup $q") {
        b.span(s"warmup.$q") {
          qs(q)(spark, tables).write.mode("overwrite")
            .parquet(out.resolve(q).toString)
          expected(q) = checksum(spark.read.parquet(out.resolve(q).toString))
        }
      }
      warmEach(q) = (System.nanoTime() - q0) / 1e9
    }
    val warm = (System.nanoTime() - w0) / 1e9
    val times = mutable.LinkedHashMap(
      names.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val shuffle = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    // one pass = one operation per query, after GC and a short pause;
    // passes repeat until the measured time is spent
    // two passes at least: one pass still runs while the JIT settles
    b.loop(r, minOps = 2) { _ =>
      System.gc()
      Thread.sleep(300)
      names.foreach { q =>
        val fromMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val chk = try Right(b.labelled(s"query: $q")(
            b.span(s"query.$q")(checksum(qs(q)(spark, tables)))))
          catch { case e: Exception => Left(e) }
        val sec = (System.nanoTime() - t0) / 1e9
        val toMs = System.currentTimeMillis()
        val fails = chk match {
          case Left(e) => Seq(s"$q threw ${e.getMessage}")
          case Right(c) if c != expected(q) =>
            Seq(s"$q: result hash $c differs from the checked output's ${expected(q)}")
          case _ => Nil
        }
        r.op(sec, fails)
        times(q) += sec
        b.trace.foreach { tr =>
          val w = tr.window(fromMs, toMs).get(s"query: $q")
          shuffle.getOrElseUpdate(q, mutable.ArrayBuffer.empty) +=
            w.map(_.shuffleMb).getOrElse(0.0)
        }
      }
    }
    if (b.trace.isDefined) names.foreach { q =>
      r.layer(s"operators.query.${q}_s", Bench.median(times(q).toSeq))
      r.layer(s"operators.query.$q.shuffle_mb",
        Bench.median(shuffle(q).toSeq))
    }
    val js = Bench.jstr _
    r.extra("query_times") = times.map { case (q, v) =>
      s"${js(q)}:${v.mkString("[", ",", "]")}" }.mkString("{", ",", "}")
    r.extra("oracle_sql") = names.flatMap(q => oracle.get(q).map(sql =>
      s"${js(q)}:${js(sql)}")).mkString("{", ",", "}")
    r.extra("outputs") = js(out.toString)
    r.extra("warmup_times") = warmEach.map { case (q, v) =>
      s"${js(q)}:$v" }.mkString("{", ",", "}")
    r.finish(stagings.map(_._2), warm)
  }
}

object Queries {
  /** The headline set, the benchmark's one list of it (kept here, not
    * read from `graft.Bench`, so the benchmark's definition cannot move
    * under a later change); `run.py` reads it from the raw figures of
    * every workload.
    */
  val names: Seq[String] = Seq(
    "q1_pricing_summary", "q3_top_orders", "q5_region_revenue",
    "q9_product_profit", "q13_order_distribution", "q21_waiting_suppliers",
    "fs_dir_rollup_explode", "fs_dir_rollup_theta", "fs_merge_upsert",
    "fs_es_docs", "fs_deletions", "fs_stale_links",
    "docs_dedup_exact", "docs_minhash_neardup", "docs_neardup_clusters",
    "ann_topk_brute", "ann_cosine_neardup", "events_hourly_window",
    "events_top_users_native")

  /** Stagings in set-up; the median is reported. */
  val StageReps = 3
}
